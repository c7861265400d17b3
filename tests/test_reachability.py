"""Every top-level ``def`` and ``class`` of the package must be reachable
from a pipeline, a config or a driver query — code only tests call gets
wired in or deleted.

Reachability is computed from the AST, by name.  The roots are every name
that ``perfbench/`` (its tests excluded), ``scripts/`` and
``__spark_entry__.py`` mention, plus every name a package module mentions
outside its own top-level defs (import-time code: the driver-query
registry, processor tables, decorators).  A reached def reaches every name
its body mentions.  ``__init__`` re-exports are not references, and
``tests/`` is never read.  Matching by bare name over-approximates (two
defs sharing a name are reached together), so a pass proves no more than
that some non-test code names each definition.

``ALLOWED`` lists what stays unreached on purpose, each with its reason.
An entry that becomes reachable must leave the list."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "liatrio_otel_collector_spark"

ALLOWED = {
    # public entry points: callers outside the repository start here
    "run_config_pipelines": "public API: one config-driven batch from YAML",
    "start_config_stream": "public API: config-driven streaming query",
    # reference components with golden tests, waiting for receiver inputs
    # the config surface does not have yet (ROADMAP item 5's wire list)
    "workflow_run_spans": "githubreceiver workflow_run webhook spans (trace golden)",
    "workflow_job_spans": "githubreceiver workflow_job webhook spans (trace golden)",
    "gitlab_catalog_scrape_metrics": "gitlab catalog scraper (scraper golden)",
    "gitlab_terraform_scrape_metrics": "gitlab terraform scraper (scraper golden)",
    "classify_includes": "gitlab include classification (log golden)",
    "status_to_span_code": "X6 conclusion -> string span status; no receiver emits it yet",
    "strip_refs_heads": "X10 refs/heads/ strip; no receiver reads raw refs yet",
    # streaming twins a config stream will run (ROADMAP item 4)
    "group_traces_stream": "streaming groupbytrace, for config streams",
    "interval_last_stream": "streaming interval processor, for config streams",
    # references that tests compare the driver queries against
    "log_pipeline": "reference logs topology the log goldens replay",
    "actions_webhook_spans": "reference dispatch the actions fixture replay drives",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _graph() -> tuple[dict[str, list[str]], dict[str, set[str]], set[str]]:
    """(definition sites, name -> names its body mentions, root names)."""
    sites: dict[str, list[str]] = {}
    edges: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS):
                sites.setdefault(node.name, []).append(f"{path.relative_to(ROOT)}:{node.lineno}")
                edges.setdefault(node.name, set()).update(_names(node) - {node.name})
            else:
                roots |= _names(node)
    callers = [*(ROOT / "perfbench").rglob("*.py"), *(ROOT / "scripts").rglob("*.py")]
    for path in [*callers, ROOT / "__spark_entry__.py"]:
        if "tests" not in path.relative_to(ROOT).parts:
            roots |= _names(ast.parse(path.read_text()))
    return sites, edges, roots


def _reach(edges: dict[str, set[str]], start: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = [n for n in start if n in edges]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(m for m in edges[name] if m in edges and m not in seen)
    return seen


def test_every_definition_is_reached():
    sites, edges, roots = _graph()
    unreached = set(sites) - _reach(edges, roots | set(ALLOWED))
    assert not unreached, "reached by no pipeline, config or driver query: " + ", ".join(
        f"{n} ({', '.join(sites[n])})" for n in sorted(unreached)
    )
    assert not set(ALLOWED) - set(sites), "allowlisted but no longer defined"
    wired = set(ALLOWED) & _reach(edges, roots)
    assert not wired, f"reachable now, drop from ALLOWED: {sorted(wired)}"
