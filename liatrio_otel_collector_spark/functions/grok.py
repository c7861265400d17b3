"""Grok-style text-line parsing, fully Catalyst-vectorized.

The north rule names "a vectorized grok/regex parse stage"; the flagship
pipeline does this over the TOKEN layout (functions/tokens.py).  This module
is the TEXT twin for unstructured log lines: a ``%{PATTERN:field}`` grok
expression compiles to ONE anchored Java-compatible regex, and each named
field becomes a ``regexp_extract`` column — JVM whole-stage codegen, no
Python in the hot path, the same shape logstash/vector grok stages have.

The pattern subset sticks to syntax DuckDB's RE2 and Java's regex agree on
(char classes, alternation, non-capturing groups, +/*/?), so the compiled
regex doubles as the DuckDB oracle's expression — one compiler, two engines,
hash-identical extracts.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# dialect-portable pattern library (logstash-core names); every entry stays
# in the RE2 ∩ Java dialect (no backreferences, no lookaround) so the SAME
# compiled regex runs in Spark's Java engine and DuckDB's RE2 oracle.
GROK_PATTERNS: dict[str, str] = {
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?",
    "LOGLEVEL": r"(?:DEBUG|INFO|WARN|ERROR|FATAL|debug|info|warn|error|fatal)",
    "WORD": r"\w+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "NOTSPACE": r"\S+",
    "GREEDYDATA": r".*",
    # COMBINEDAPACHELOG-class composites (the first patterns real log
    # pipelines reach for; logstash-core httpd/grok-patterns names)
    "MONTH": r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)",
    "HTTPDATE": (
        r"\d{2}/(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)/\d{4}"
        r":\d{2}:\d{2}:\d{2} [+-]\d{4}"
    ),
    "QS": r'"(?:[^"\\]|\\.)*"',  # quoted string, escape-aware, no backrefs
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(),~:;=@#%&_\-]*)+",
    "USER": r"[a-zA-Z0-9._-]+",
    "HOSTNAME": r"(?:[A-Za-z0-9][A-Za-z0-9\-]*\.)*[A-Za-z0-9][A-Za-z0-9\-]*",
    # syslog-line staples (logstash grok-patterns names), RE2 ∩ Java as above
    "SYSLOGTIMESTAMP": (
        r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
        r" {1,2}\d{1,2} \d{2}:\d{2}:\d{2}"
    ),
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",  # printable, no '[' ']'
    "POSINT": r"\b[1-9]\d*\b",
    "NONNEGINT": r"\b\d+\b",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",  # v4 alias (IPV6 needs backtracking-free rework)
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
}

# %{NAME:field} captures; bare %{NAME} matches without capturing (the
# grok-filter syntax for structure-only tokens, e.g. a user agent you
# validate but don't extract)
_FIELD_RE = re.compile(r"%\{([A-Z0-9_]+)(?::([a-zA-Z_][a-zA-Z0-9_]*))?\}")


# a raw '(' that opens a CAPTURING group (not '(?:', '(?=', … and not '\(')
# inside a pattern DEFINITION would silently shift every regexp_extract group
# index after it — reject at load time
_CAPTURING_PAREN = re.compile(r"(?<!\\)\((?!\?)")


def load_pattern_file(text: str) -> dict[str, str]:
    """Parse a logstash ``patterns/`` file: one ``NAME PATTERN`` per line,
    ``#`` comments and blank lines skipped.  Returns raw (unresolved)
    definitions — pass through :func:`add_patterns` to resolve ``%{REF}``s."""
    defs: dict[str, str] = {}
    for lineno, line in enumerate(text.splitlines(), 1):
        stripped = line.strip()
        if not stripped or stripped.startswith("#"):
            continue
        parts = stripped.split(None, 1)
        if len(parts) != 2 or not re.fullmatch(r"[A-Z0-9_]+", parts[0]):
            raise ValueError(f"pattern file line {lineno}: expected 'NAME pattern', got {stripped!r}")
        if parts[0] in defs:
            raise ValueError(f"pattern file line {lineno}: duplicate pattern {parts[0]!r}")
        defs[parts[0]] = parts[1]
    return defs


def add_patterns(defs: dict[str, str]) -> dict[str, str]:
    """Resolve user pattern definitions against the built-in library
    (``GROK_PATTERNS``) into a merged, fully-expanded library.

    Definitions may reference other patterns with bare ``%{NAME}`` — custom
    or built-in, in any order.  Two hard rules, both the group-index-safety
    invariant behind grok_compile's one-capture-per-field contract:

    - ``%{NAME:field}`` captures inside a DEFINITION are rejected (captures
      belong in the top-level expression only);
    - raw capturing ``(...)`` groups in a definition are rejected — write
      ``(?:...)``.

    Reference cycles (A -> B -> A, or A -> A) are detected and reported with
    the full chain."""
    resolved: dict[str, str] = {}

    def expand(name: str, stack: tuple[str, ...]) -> str:
        if name in resolved:
            return resolved[name]
        if name in stack:
            chain = " -> ".join((*stack[stack.index(name):], name))
            raise ValueError(f"grok pattern cycle: {chain}")
        if name in defs:
            body = defs[name]
        elif name in GROK_PATTERNS:
            # built-ins are already leaf regexes (no %{} refs)
            resolved[name] = GROK_PATTERNS[name]
            return GROK_PATTERNS[name]
        else:
            raise ValueError(f"unknown grok pattern %{{{name}}}")
        if _CAPTURING_PAREN.search(body):
            raise ValueError(
                f"pattern {name!r}: raw capturing group in definition — use (?:...) "
                "so top-level %{PATTERN:field} group indices stay stable"
            )

        def sub(m: re.Match) -> str:
            if m.group(2) is not None:
                raise ValueError(
                    f"pattern {name!r}: %{{{m.group(1)}:{m.group(2)}}} capture inside a "
                    "definition — captures belong in the top-level expression"
                )
            return f"(?:{expand(m.group(1), (*stack, name))})"

        out = _FIELD_RE.sub(sub, body)
        resolved[name] = out
        return out

    for name in defs:
        expand(name, ())
    return {**GROK_PATTERNS, **resolved}


def grok_compile(
    expression: str, patterns: dict[str, str] | None = None
) -> tuple[str, list[str]]:
    """``%{LOGLEVEL:level} %{WORD:service}: %{GREEDYDATA:msg}`` →
    (anchored regex with one capture group per field, field names in group
    order).  ``%{NAME}`` without a field compiles to a NON-capturing group.
    Unknown pattern names and duplicate field names are errors —
    the same strictness grok filters apply at config load.  ``patterns``
    (e.g. from :func:`add_patterns`) overrides the built-in library."""
    lib = GROK_PATTERNS if patterns is None else patterns
    fields: list[str] = []

    def sub(m: re.Match) -> str:
        pname, fname = m.group(1), m.group(2)
        if pname not in lib:
            raise ValueError(f"unknown grok pattern %{{{pname}}}")
        if fname is None:
            return f"(?:{lib[pname]})"
        if fname in fields:
            raise ValueError(f"duplicate grok field {fname!r}")
        fields.append(fname)
        return f"({lib[pname]})"

    # escape the literal text BETWEEN field refs, then re-inject the groups
    out: list[str] = []
    last = 0
    for m in _FIELD_RE.finditer(expression):
        out.append(re.escape(expression[last : m.start()]))
        out.append(sub(m))
        last = m.end()
    out.append(re.escape(expression[last:]))
    if not fields:
        raise ValueError("grok expression has no %{PATTERN:field} refs")
    return "^" + "".join(out) + "$", fields


def grok_parse(
    df: DataFrame,
    col: str | Column,
    expression: str,
    keep: bool = True,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Extract every grok field as a string column (empty string = no
    match, the regexp_extract convention both Spark and DuckDB share).
    ``keep=False`` drops the raw line after extraction (column pruning then
    removes it from the scan entirely)."""
    regex, fields = grok_compile(expression, patterns)
    c = F.col(col) if isinstance(col, str) else col
    n = len(fields)
    if n == 1:
        cols = [F.regexp_extract(c, regex, 1).alias(fields[0])]
    else:
        # ONE regex pass per row instead of one per field (guide §1.2 step 2
        # per-task work): the anchored pattern is applied once via
        # regexp_replace, emitting every capture group joined by an \x01
        # sentinel, and each field is then an element_at over the split —
        # measured on the gk2 8-field pattern at sf1.0: 8×regexp_extract
        # 2.73 s → 1.6 s.  Every column extracts from the SAME `safe` CASE
        # expression *unconditionally*, which is what lets whole-stage
        # codegen's subexpression elimination evaluate the regex once — the
        # earlier form that guarded each field with its own when(rlike, …)
        # re-evaluated the replace+split per field (measured slower than the
        # 8-extract baseline).  Semantics are bit-identical to per-field
        # regexp_extract: matched rows read their groups (an unmatched
        # optional group substitutes "", same as regexp_extract); unmatched
        # rows yield [line] (no sentinel in the line), whose size ≠ n
        # routes to the all-"" branch — the regexp_extract no-match
        # convention; NULL lines stay NULL; and the rare line that itself
        # contains the sentinel (which could fool the size probe or corrupt
        # the join) falls back to exact per-field extraction.
        sep = "\x01"
        repl = sep.join(f"${i + 1}" for i in range(n))
        parts = F.split(F.regexp_replace(c, regex, repl), sep, -1)
        safe = (
            F.when(c.isNull(), F.lit(None).cast("array<string>"))
            .when(
                c.contains(sep),
                F.array(*[F.regexp_extract(c, regex, i + 1) for i in range(n)]),
            )
            .when(F.size(parts) == n, parts)
            .otherwise(F.array_repeat(F.lit(""), n))
        )
        cols = [F.element_at(safe, i + 1).alias(f) for i, f in enumerate(fields)]
    out = df.select("*", *cols)
    if not keep and isinstance(col, str):
        out = out.drop(col)
    return out


def grok_oracle_exprs(
    expression: str, col: str, patterns: dict[str, str] | None = None
) -> dict[str, str]:
    """The DuckDB twin: field -> ``regexp_extract(col, regex, group)`` SQL
    snippets built from the SAME compiled regex."""
    regex, fields = grok_compile(expression, patterns)
    lit = regex.replace("'", "''")
    return {
        f: f"regexp_extract({col}, '{lit}', {i + 1})" for i, f in enumerate(fields)
    }
