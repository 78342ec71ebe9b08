"""Shuffle-width / core-count determinism audit (r8 verdict #4).

The engine's cross-engine float rules (det-ln, DECIMAL sums, integer
micro-unit windows, floor-quantized rounding) claim ORDER-INDEPENDENCE
of every float-adjacent aggregate. This sweep proves it mechanically:
the full registry (declared + extra) runs against the DuckDB oracle
under session shapes that radically reorder every shuffle and partial
agg —

    p1      spark.sql.shuffle.partitions=1   (everything serializes)
    p7      spark.sql.shuffle.partitions=7   (odd width, uneven buckets)
    p200    spark.sql.shuffle.partitions=200 (the wide default)
    cores4  local[4]                          (different task interleave)

Oracle equality at EVERY shape is strictly stronger than run-vs-run
bit-equality across shapes: each run is pinned to the same sequential
reference, so any order-dependent accumulation diffs somewhere.

Usage: python tools/width_sweep.py [--only=name,name] [sf_dir] [config ...]
Prints one summary JSON line; per-config FAIL details go to stderr.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.compare_oracle import (  # noqa: E402
    compare_frames,
    duck_connection,
    manifest_stamp,
)

CONFIGS: dict[str, dict] = {
    "p1": {"shuffle_partitions": 1},
    "p7": {"shuffle_partitions": 7},
    "p200": {"shuffle_partitions": 200},
    "cores4": {"master": "local[4]"},
}


def run_config(
    label: str, opts: dict, sf_dir: str, only: set[str] | None = None
) -> dict:
    import __spark_entry__ as ent
    from impala_base_to_cdw_sizing_spark.session import build_spark
    from impala_base_to_cdw_sizing_spark import memo

    spark = build_spark(f"width-sweep-{label}", **opts)
    con = duck_connection(sf_dir)
    qs, oracles = ent.queries(), ent.oracle_sql()
    if only:
        qs = {n: qs[n] for n in sorted(only)}
    ok, failed = 0, []
    checked = sorted(qs)
    for name, fn in qs.items():
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            issues = compare_frames(
                name, spark_pdf, con.execute(oracles[name]).fetch_df()
            )
        except Exception as e:  # noqa: BLE001
            issues = [f"error: {str(e)[:200]}"]
        finally:
            spark.catalog.clearCache()
            memo.clear()
        if issues:
            failed.append(name)
            print(f"FAIL [{label}] {name}: {issues[0]}", file=sys.stderr)
        else:
            ok += 1
    spark.stop()
    con.close()
    return {"ok": ok, "fail": len(failed), "failed_names": failed, "checked": checked}


def main() -> int:
    args = sys.argv[1:]
    only = None
    manifest_path = None
    for a in list(args):
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
            args.remove(a)
        elif a.startswith("--manifest="):
            manifest_path = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    labels = args[1:] or list(CONFIGS)
    stamp = manifest_stamp()
    summary = {}
    for label in labels:
        summary[label] = run_config(label, CONFIGS[label], sf_dir, only=only)
        print(f"done {label}: {summary[label]['ok']} ok, "
              f"{summary[label]['fail']} fail", file=sys.stderr)
    out = {"sf_dir": sf_dir, "configs": summary}
    if manifest_path:
        # names checked = intersection-checked set per config; record the
        # union plus per-config results so the manifest invariant test
        # (tests/test_sweep_manifests.py) can demand full-registry
        # coverage at every session shape (r9 verdict #2)
        checked = sorted(
            set().union(*(c["checked"] for c in summary.values()))
        )
        Path(manifest_path).write_text(
            json.dumps({**stamp, **out, "checked": checked}, indent=1) + "\n"
        )
    print(json.dumps(out))
    return 1 if any(c["fail"] for c in summary.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
