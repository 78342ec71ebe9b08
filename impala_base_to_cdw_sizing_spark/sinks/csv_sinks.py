"""File sinks mirroring the reference's three outputs — SURVEY.md §2.B.

- B1 main CSV: header + one row per *kept* query (pruned rows are
  ``continue``d before the main write, ``impala_query_sizing.py:262-269``
  vs ``:336``).
- B2 pruned CSV: lazily created — the reference only opens the file on the
  first pruned row (``:263-266``); mirrored by checking emptiness first.
- B3 skipped list: ``id|duration|start|end|state``-style pipe-joined lines
  (``:198,341-344``).

Exact ``csv.QUOTE_NONNUMERIC`` byte-layout is an accepted divergence
(SURVEY §2.B1): values are identical, quoting differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(df: DataFrame, path: str) -> None:
    """Distributed CSV write with header. One directory of part files —
    the scale-correct layout (a single file would serialize the write)."""
    df.write.mode("overwrite").option("header", True).csv(path)


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
    kept_out = kept.select(*output_cols)
    write_csv(kept_out, main_path)

    prune_count = pruned.count()
    if prune_count > 0:  # lazy-open mirror of :263-266
        write_csv(pruned.select(*output_cols), pruned_path)

    skipped_lines = skipped.select(
        F.concat_ws(
            "|",
            F.col("query_id"),
            F.col("duration_millis").cast("string"),
            F.col("start_ms").cast("string"),
            F.col("end_ms").cast("string"),
        ).alias("value")
    )
    skipped_lines.write.mode("overwrite").text(skipped_path)

    return {
        "kept": kept_out.count(),
        "pruned": prune_count,
        "skipped": skipped_lines.count(),
    }
