"""Scale-safe routing for the registered ``array_reduce_*`` SQL names.

The reference's literal entry point is a SQL aggregate call
(``SELECT array_reduce_sum(arrays) FROM t``, ``src/monoid.rs:568-571``).
In Spark that name can only bind to a GROUPED_AGG (Arrow) UDAF, and
GROUPED_AGG runs in **Complete mode**: every group is materialized on
one executor — correct, but O(group size) memory, the one plan shape in
this repo that does not survive unbounded groups.  Spark exposes no hook
to attach a partial/final rewrite to a registered SQL function, so the
scale-safe route has to happen one level up, on the SQL text itself.

:func:`route_monoid_sql` is that route: a migration shim that accepts
the reference's SQL dialect for monoid aggregation and executes it
through :func:`~datafusion_monoid_spark.operators.array_reduce.\
array_reduce_exploded` — identical semantics (saturation, ragged
min-length, null/empty policy; property-tested equal in
``tests/test_sql_route.py``), but a posexplode partial+final plan whose
per-task state is O(distinct (group, pos)), not O(rows in group).  A
million-array group costs each map task at most ``array_len`` output
rows.

Supported grammar (deliberately the reference's surface, no more)::

    SELECT [g1, g2, ...,] array_reduce_<op>[_<elem>](<array expr>)
           [AS alias] [, gN ...]
    FROM   <anything Spark SQL accepts — table, view, subquery, WHERE>
    [GROUP BY g1, g2, ...]

* exactly one ``array_reduce_*`` call in the select list;
* every other select item is a plain column reference (backticks
  allowed) and must match the GROUP BY list (the reference only ever
  issues this shape);
* string literals, comments and backticked names are lexed first, so a
  ``)`` or a keyword inside them does not move a clause boundary;
* everything between ``FROM`` and ``GROUP BY`` passes through verbatim,
  so filters keep their pushdown.

Anything outside the grammar raises ``ValueError`` with the exact
reason — a loud error beats a silent Complete-mode fallback.

The registered SQL names themselves -- one Arrow GROUPED_AGG UDAF each,
folding a whole group in one Python worker -- stay available for
in-executor-sized groups, behind an explicit group-size guard
(:func:`~datafusion_monoid_spark.operators.array_reduce.make_pandas_udaf`
``max_group_rows``): past the threshold the UDAF raises and points here
instead of OOMing an executor at hour three of a 100 TB job.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from datafusion_monoid_spark.operators.array_reduce import (
    array_reduce_exploded, quote)
from datafusion_monoid_spark.monoid import ELEMENT_TYPES

_CALL_RE = re.compile(
    r"array_reduce_(sum|product|max|min)(?:_([a-z0-9]+))?\s*\(",
    re.IGNORECASE)


def _lex(sql: str) -> tuple[str, str]:
    """``(text, mask)``: ``sql`` with its comments blanked, and the same
    with the inside of every string literal and backticked identifier
    blanked too.  Both keep ``sql``'s length, so the depth-0 scans below
    run on ``mask`` and slice ``text``."""
    text, mask, i, n = list(sql), list(sql), 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            j = i + 1
            while j < n and sql[j] != c:
                j += 2 if sql[j] == "\\" and c != "`" else 1
            j = min(j, n)
            mask[i + 1:j] = "_" * (j - i - 1)
            i = j + 1
        elif sql.startswith(("--", "/*"), i):
            j = sql.find("\n" if c == "-" else "*/", i)
            j = n if j < 0 else j + (c == "/") * 2
            text[i:j] = mask[i:j] = " " * (j - i)
            i = j
        else:
            i += 1
    return "".join(text), "".join(mask)


def _depth0_find(s: str, token: str, start: int = 0) -> int:
    """Index of ``token`` (case-insensitive, word-ish) at paren depth 0,
    or -1."""
    depth = 0
    low = s.lower()
    token = token.lower()
    i = start
    while i < len(s):
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and low.startswith(token, i):
            before_ok = i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_")
            j = i + len(token)
            after_ok = j >= len(s) or not (low[j].isalnum() or low[j] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


def _depth0_split(s: str, start: int, end: int) -> list[tuple[int, int]]:
    """``(start, end)`` spans of ``s[start:end]`` split on ``,`` at
    paren depth 0."""
    out, depth = [], 0
    for i in range(start, end):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
        elif s[i] == "," and depth == 0:
            out.append((start, i))
            start = i + 1
    out.append((start, end))
    return out


def _matching_paren(s: str, open_idx: int) -> int:
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError(f"unbalanced parentheses in: {s!r}")


_IDENT_RE = re.compile(r"^(?:[A-Za-z_][A-Za-z0-9_]*|`(?:[^`]|``)+`)$")


def _unquote(ident: str) -> str:
    return ident[1:-1].replace("``", "`") if ident.startswith("`") else ident


def parse_monoid_sql(sql: str) -> dict:
    """Parse the supported grammar; raise ``ValueError`` outside it.

    String literals, comments and backticked identifiers are lexed
    first, so neither a ``)`` nor a keyword inside them moves a clause
    boundary.  Returns ``{op, elem, arg, alias, group_cols, from_sql}``;
    group columns come back unquoted.
    """
    text, mask = _lex(sql.strip())
    n = len(mask.rstrip().rstrip(";").rstrip())
    text, mask = text[:n], mask[:n]
    if not mask.lower().startswith("select"):
        raise ValueError("route_monoid_sql: statement must start with SELECT")

    from_idx = _depth0_find(mask, "from", len("select"))
    if from_idx < 0:
        raise ValueError("route_monoid_sql: no top-level FROM clause")
    tail = from_idx + len("from")

    gb_idx = _depth0_find(mask, "group", tail)
    group_cols: list[str] = []
    if gb_idx >= 0:
        from_sql = text[tail:gb_idx].strip()
        m = re.match(r"group\s+by\s+", mask[gb_idx:], re.IGNORECASE)
        if not m:
            raise ValueError("route_monoid_sql: malformed GROUP BY clause")
        group_cols = [_unquote(text[a:b].strip())
                      for a, b in _depth0_split(mask, gb_idx + m.end(), n)]
    else:
        from_sql = text[tail:].strip()
    if not from_sql:
        raise ValueError("route_monoid_sql: empty FROM clause")

    call = None
    plain: list[str] = []
    for a, b in _depth0_split(mask, len("select"), from_idx):
        item, item_mask = text[a:b].strip(), mask[a:b].strip()
        m = _CALL_RE.match(item_mask)
        if m:
            if call is not None:
                raise ValueError(
                    "route_monoid_sql: exactly one array_reduce_* call "
                    "is supported per statement")
            open_idx = item_mask.index("(", m.start())
            close_idx = _matching_paren(item_mask, open_idx)
            arg = item[open_idx + 1:close_idx].strip()
            rest = item[close_idx + 1:].strip()
            alias = "result"
            if rest:
                am = re.match(r"^as\s+([A-Za-z_][A-Za-z0-9_]*)$", rest,
                              re.IGNORECASE)
                if not am:
                    raise ValueError(
                        f"route_monoid_sql: unsupported trailing text after "
                        f"aggregate call: {rest!r}")
                alias = am.group(1)
            elem = (m.group(2) or "").lower()
            if elem and elem not in ELEMENT_TYPES:
                raise ValueError(
                    f"route_monoid_sql: unknown element type suffix "
                    f"{elem!r}; known: {sorted(ELEMENT_TYPES)}")
            call = {"op": m.group(1).lower(), "elem": elem or None,
                    "arg": arg, "alias": alias}
        else:
            if not _IDENT_RE.match(item):
                raise ValueError(
                    f"route_monoid_sql: select item {item!r} is neither an "
                    f"array_reduce_* call nor a plain group column")
            plain.append(_unquote(item))
    if call is None:
        raise ValueError("route_monoid_sql: no array_reduce_* call found "
                         "in the select list")

    if {c.lower() for c in plain} != {c.lower() for c in group_cols}:
        raise ValueError(
            f"route_monoid_sql: select-list group columns {plain} must "
            f"match the GROUP BY list {group_cols}")

    return {**call, "group_cols": plain, "from_sql": from_sql}


def route_monoid_sql(spark: SparkSession, sql: str,
                     default_elem: str = "int") -> DataFrame:
    """Execute a reference-dialect monoid-aggregate SQL statement
    through the partial-agg posexplode form.

    The inner projection (``SELECT groups, (arg) AS __arr FROM <tail>``)
    is ordinary Spark SQL — filters in the tail reach the scan as pushed
    predicates; the reduction itself is
    :func:`array_reduce_exploded`, so the physical plan is
    scan → posexplode → HashAggregate(partial) → Exchange →
    HashAggregate(final) — the plan ``tests/test_plans.py`` pins for the
    DataFrame twin, now reachable from the SQL entry point.
    """
    p = parse_monoid_sql(sql)
    cols = "".join(f"{quote(c)}, " for c in p["group_cols"])
    df = spark.sql(f"SELECT {cols}({p['arg']}) AS __arr FROM {p['from_sql']}")
    return array_reduce_exploded(df, p["group_cols"], "__arr", p["op"],
                                 p["elem"] or default_elem, p["alias"])
