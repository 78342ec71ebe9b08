"""Registry-wide identifier-case hygiene (r7 verdict #3).

The r7 bug class: Spark AND DuckDB resolve identifiers
case-insensitively, so aliasing ``Rp`` next to ``rp`` silently binds
every later reference to ONE of them — in BOTH engines — producing
identical-wrong answers that oracle parity can never see (the PSI
drift metric collapsed to 0 this way before a pure-Python replication
test caught it). The hand-written replication tests protect only the
operators they were written for; these lints protect the whole
registry:

1. every oracle SQL string: no two ``AS``-aliases (and no two
   identifier tokens outside the keyword whitelist) differing only by
   case;
2. every registered Spark plan: no operator's output schema carries two
   attribute names differing only by case (same-spelling duplicates are
   normal Spark — self-joins — and the analyzer arbitrates those
   explicitly; different-spelling same-lowercase pairs are the silent
   class);
3. a fixture reproducing the original defect, pinning that both engines
   really do collapse the pair (so the lint is guarding live behavior,
   not a hypothetical).
"""

from __future__ import annotations

import re
from collections import defaultdict

import duckdb
import pytest

import __spark_entry__ as ent
from tests.conftest import SF_SMALL

# Keyword / builtin-function names whose case legitimately varies across
# the registry's SQL dialect surface (``CAST`` in one query, ``cast`` in
# another is style, not a collision). A genuine column alias that shares
# a name with one of these AND varies in case would slip through — the
# alias-specific lint below does not use the whitelist, so aliased
# collisions are still caught.
_SQL_CASE_WHITELIST = {
    "select", "from", "where", "as", "and", "or", "not", "on", "join",
    "left", "right", "inner", "outer", "cross", "full", "group", "by",
    "order", "limit", "with", "case", "when", "then", "else", "end",
    "cast", "over", "partition", "rows", "range", "between", "unbounded",
    "preceding", "following", "current", "row", "union", "all",
    "distinct", "having", "in", "is", "null", "like", "asc", "desc",
    "using", "exists", "true", "false", "interval", "count", "sum",
    "min", "max", "avg", "abs", "floor", "ceil", "round", "sqrt",
    "coalesce", "greatest", "least", "length", "lower", "upper",
    "substring", "concat", "replace", "split", "unnest", "explode",
    "bigint", "int", "integer", "double", "varchar", "string", "boolean",
    "date", "timestamp", "decimal", "month", "year", "day", "hour",
    "epoch_ms", "ntile", "row_number", "rank", "dense_rank", "lag",
    "lead", "first", "last", "nullif", "if", "iff", "power", "exp", "ln",
    "log", "mod", "sign", "trim", "values",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
_ALIAS = re.compile(r"\bAS\s+([A-Za-z_][A-Za-z_0-9]*)", re.IGNORECASE)




def sql_case_collisions(sql: str, aliases_only: bool = False) -> dict[str, set[str]]:
    """Identifier groups sharing a lowercase form with >1 spelling."""
    toks = (
        [m.group(1) for m in _ALIAS.finditer(sql)]
        if aliases_only
        else _IDENT.findall(sql)
    )
    groups: dict[str, set[str]] = defaultdict(set)
    for t in toks:
        groups[t.lower()].add(t)
    return {
        k: v
        for k, v in groups.items()
        if len(v) > 1 and (aliases_only or k not in _SQL_CASE_WHITELIST)
    }


def test_oracle_sql_alias_case_collisions():
    bad = {
        name: hits
        for name, sql in ent.oracle_sql().items()
        if (hits := sql_case_collisions(sql, aliases_only=True))
    }
    assert not bad, bad


def test_oracle_sql_identifier_case_collisions():
    bad = {
        name: hits
        for name, sql in ent.oracle_sql().items()
        if (hits := sql_case_collisions(sql))
    }
    assert not bad, bad


def plan_output_case_collisions(df) -> dict[str, set[str]]:
    """Per-node output-schema attribute names that differ only by case
    — scanned over the ANALYZED plan, so every intermediate projection
    (each ``selectExpr`` link in a chain) is checked, not just the
    final schema."""
    bad: dict[str, set[str]] = {}
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        out = node.output()
        names: dict[str, set[str]] = defaultdict(set)
        for i in range(out.size()):
            n = out.apply(i).name()
            names[n.lower()].add(n)
        for k, v in names.items():
            if len(v) > 1:
                bad.setdefault(k, set()).update(v)
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return bad


@pytest.mark.slow  # full-registry plan sweep (~2 min alone) — the
# release gate re-runs it; the default tier keeps the per-family and
# declared-tier guards
def test_registry_plans_have_no_case_colliding_attributes(spark):
    bad = {}
    for name, fn in sorted(ent.queries().items()):
        hits = plan_output_case_collisions(fn(spark, SF_SMALL))
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_fixture_reproduces_the_collision_class(spark):
    """The original defect, distilled: alias ``rp`` and ``Rp`` side by
    side, then reference ``rp`` — BOTH engines bind the reference
    case-insensitively instead of erroring, so the wrong-answer mode is
    silent. The lints above exist because of this behavior; pin that
    the behavior is real and that both lints catch the pattern."""
    sql = "SELECT x AS rp, y AS Rp FROM t"
    assert sql_case_collisions(sql, aliases_only=True) == {"rp": {"rp", "Rp"}}

    # Spark: the pair survives into one projection's output schema —
    # exactly what the plan lint flags
    df = spark.range(1).selectExpr("id AS rp", "id + 1 AS Rp")
    assert plan_output_case_collisions(df) == {"rp": {"rp", "Rp"}}
    # and a downstream reference is ambiguous-but-silent territory in
    # case-insensitive resolution: DuckDB picks one binding and returns
    # a value (no error) — the silent-wrong mode
    con = duckdb.connect()
    val = con.execute(
        "SELECT rp FROM (SELECT 1 AS rp, 2 AS Rp)"
    ).fetchone()[0]
    assert val in (1, 2)  # bound silently, never an error
    # Spark refuses the ambiguous reference only sometimes (plan-shape
    # dependent); the lint therefore fires on alias CREATION, the one
    # place the defect is always visible
    with pytest.raises(Exception):
        spark.sql(
            "SELECT rp FROM (SELECT 1 AS rp, 2 AS Rp)"
        ).collect()
