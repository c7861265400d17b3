"""Every top-level ``def`` and ``class`` of the package must be reachable
from a pipeline, a config or a driver query — code only tests call gets
wired in or deleted — and every defaulted parameter of a top-level package
function must have a caller that passes it.

Reachability is computed from the AST, by name.  The roots are every name
that ``perfbench/`` (its tests excluded), ``scripts/`` and
``__spark_entry__.py`` mention, plus every name a package module mentions
outside its own top-level defs (import-time code: the driver-query
registry, processor tables, decorators).  A reached def reaches every name
its body mentions.  ``__init__`` re-exports are not references, and
``tests/`` is never read.  Matching by bare name over-approximates (two
defs sharing a name are reached together), so a pass proves no more than
that some non-test code names each definition.

A parameter is passed when some call of the function's bare name, in the
package, ``perfbench/`` (its tests excluded), ``scripts/``,
``__spark_entry__.py`` or ``tests/``, passes it by keyword, by position,
or as a key of a ``**{...}`` literal.  A call ``f(**kw)`` inside a
function ``g(..., **kw)`` passes ``f`` every keyword that calls of ``g``
pass into ``kw``; any other ``*``/``**`` passes nothing the scan can name
(and ends positional counting).  A test counts: it may pass a value to
reach a guard or an edge case.  A parameter nothing passes is a setting
nothing sets: fold its default into the body.

``ALLOWED`` and ``PARAM_ALLOWED`` list what stays unreached or unpassed on
purpose, each with its reason.  An entry that becomes reachable or passed
must leave its list."""

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

PARAM_ALLOWED = {
    # deployment settings
    "get_spark.master": "deployment setting: the Spark master URL",
    "start_config_stream.available_now": "deployment setting: the config stream's trigger",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)


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


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each parameter with a default; keyword-only
    parameters have no position."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    first = len(pos) - len(a.defaults)
    return [(p.arg, i) for i, p in enumerate(pos) if i >= first] + [
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _passed() -> dict[str, set[str | int]]:
    """Callee bare name -> the keyword names and positional indices its
    calls pass."""
    files = [*PKG.rglob("*.py"), *(ROOT / "scripts").rglob("*.py"), ROOT / "__spark_entry__.py"]
    files += [p for p in (ROOT / "perfbench").rglob("*.py") if "tests" not in p.relative_to(ROOT).parts]
    files += (ROOT / "tests").rglob("*.py")
    passed: dict[str, set[str | int]] = {}
    # (forwarder, its named parameters, callee) for each f(**kw) in g(**kw)
    forwards: list[tuple[str, set[str], str]] = []

    def visit(node: ast.AST, fn: ast.FunctionDef | None) -> None:
        for n in ast.iter_child_nodes(node):
            if isinstance(n, _FUNCS):
                visit(n, n)
                continue
            if isinstance(n, ast.Call) and isinstance(n.func, (ast.Name, ast.Attribute)):
                callee = n.func.id if isinstance(n.func, ast.Name) else n.func.attr
                got = passed.setdefault(callee, set())
                for k in n.keywords:
                    if k.arg:
                        got.add(k.arg)
                    elif isinstance(k.value, ast.Dict):
                        got.update(c.value for c in k.value.keys if isinstance(c, ast.Constant))
                    elif fn and fn.args.kwarg and isinstance(k.value, ast.Name) and k.value.id == fn.args.kwarg.arg:
                        own = {a.arg for a in (*fn.args.posonlyargs, *fn.args.args, *fn.args.kwonlyargs)}
                        forwards.append((fn.name, own, callee))
                for i, a in enumerate(n.args):
                    if isinstance(a, ast.Starred):
                        break
                    got.add(i)
            visit(n, fn)

    for path in files:
        visit(ast.parse(path.read_text()), None)
    grew = True
    while grew:
        grew = False
        for fwd, own, callee in forwards:
            new = {k for k in passed.get(fwd, ()) if isinstance(k, str)} - own - passed[callee]
            passed[callee] |= new
            grew = grew or bool(new)
    return passed


def test_every_parameter_is_passed():
    passed = _passed()
    unpassed: dict[str, str] = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _FUNCS):
                got = passed.get(node.name, set())
                for param, pos in _defaulted(node):
                    if param not in got and pos not in got:
                        unpassed[f"{node.name}.{param}"] = f"{path.relative_to(ROOT)}:{node.lineno}"
    missing = sorted(set(unpassed) - set(PARAM_ALLOWED))
    assert not missing, "passed by no caller: " + ", ".join(f"{p} ({unpassed[p]})" for p in missing)
    stale = sorted(set(PARAM_ALLOWED) - set(unpassed))
    assert not stale, f"passed now (or gone), drop from PARAM_ALLOWED: {stale}"
