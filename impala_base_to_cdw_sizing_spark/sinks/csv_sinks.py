"""File sinks mirroring the reference's three outputs — SURVEY.md §2.B.

- B1 main CSV: header + one row per *kept* query (pruned rows are
  ``continue``d before the main write, ``impala_query_sizing.py:262-269``
  vs ``:336``).
- B2 pruned CSV: lazily created — the reference only opens the file on the
  first pruned row (``:263-266``); mirrored by checking emptiness first.
- B3 skipped list: ``id|duration|start|end|state``-style pipe-joined lines
  (``:198,341-344``).

Each returned count comes from an ``Observation`` on the write itself,
so counting costs no action of its own.

Exact ``csv.QUOTE_NONNUMERIC`` byte-layout is an accepted divergence
(SURVEY §2.B1): values are identical, quoting differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def write_csv(df: DataFrame, path: str) -> None:
    """Distributed CSV write with header. One directory of part files —
    the scale-correct layout (a single file would serialize the write)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def _counted_write(df: DataFrame, write) -> int:
    """Run ``write(df)`` and return the rows it wrote, counted by an
    ``Observation`` on the write itself instead of a second action."""
    obs = Observation()
    write(df.observe(obs, F.expr("count(1) AS rows")))
    return obs.get["rows"]


def write_sizing_outputs(
    kept: DataFrame,
    pruned: DataFrame,
    skipped: DataFrame,
    output_cols: list[str],
    main_path: str,
    pruned_path: str,
    skipped_path: str,
) -> dict[str, int]:
    """Write the three sinks; returns per-sink row counts.

    ``kept``/``pruned`` must already carry ``output_cols`` (the 24-column
    contract); ``skipped`` needs query_id/duration_millis/start_ms/end_ms.
    """
    counts = {
        "kept": _counted_write(
            kept.select(*output_cols), lambda df: write_csv(df, main_path)
        ),
        "pruned": 0,
    }
    if not pruned.isEmpty():  # lazy-open mirror of :263-266
        counts["pruned"] = _counted_write(
            pruned.select(*output_cols), lambda df: write_csv(df, pruned_path)
        )
    skipped_lines = skipped.selectExpr(
        "concat_ws('|', query_id, CAST(duration_millis AS STRING), "
        "CAST(start_ms AS STRING), CAST(end_ms AS STRING)) AS value"
    )
    counts["skipped"] = _counted_write(
        skipped_lines, lambda df: df.write.mode("overwrite").text(skipped_path)
    )
    return counts
