"""Task-retry/speculation determinism for cap-bearing queries (r8
verdict #7).

Banded candidate generation with per-bucket anchor caps selects a
bounded subset of each bucket; a speculatively re-executed (or retried)
task must select the SAME anchors, or two attempts of one partition
commit different results. The caps are implemented as deterministic
(key, id)-ordered windows, so the property should hold by construction —
this script PROVES it by running each cap-bearing query twice in the
same process:

1. a session with AGGRESSIVE speculation (quantile 0.0, multiplier 1.0,
   10 ms check interval → nearly every task gets a duplicate attempt,
   and which attempt wins is a race);
2. a clean session (speculation off);

and asserting the collected, row-sorted results are exactly equal. Any
timing-dependent anchor selection (e.g. a LIMIT without ORDER, a first()
over an unordered frame) would surface as a diff between the racing and
clean runs.

Prints one JSON line {"queries": {name: "ok" | "DIFF" | "ERR:..."}}.
Driven by tests/test_speculation_determinism.py (slow tier).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"

# the five queries whose plans carry per-bucket anchor/pair caps
CAP_QUERIES = [
    "dedup_ngram_jaccard",   # hot-shingle capped df-index
    "dedup_simhash",         # 128-anchor band caps
    "dedup_semantic",        # ceil(sqrt(n)) cells + 128-anchor cap
    "mm_phash_neardup",      # _PH_BUCKET_CAP=128 (the r8 fix)
    "emb_hard_negatives",    # per-anchor candidate caps
]


def _run_all(spark, registry) -> dict[str, list[tuple]]:
    out = {}
    for name in CAP_QUERIES:
        pdf = registry[name](spark, SF_DIR).toPandas()
        pdf = pdf[sorted(pdf.columns)]
        rows = sorted(map(tuple, pdf.itertuples(index=False, name=None)))
        out[name] = rows
        spark.catalog.clearCache()
    return out


def main() -> int:
    import __spark_entry__ as ent
    from impala_base_to_cdw_sizing_spark.session import build_spark

    registry = ent.queries()

    spec = build_spark(
        "speculation-race",
        extra_conf={
            "spark.speculation": "true",
            "spark.speculation.interval": "10ms",
            "spark.speculation.multiplier": "1.0",
            "spark.speculation.quantile": "0.0",
        },
    )
    racing = _run_all(spec, registry)
    spec.stop()

    clean = build_spark("speculation-clean")
    baseline = _run_all(clean, registry)
    clean.stop()

    verdicts = {}
    bad = 0
    for name in CAP_QUERIES:
        if racing[name] == baseline[name]:
            verdicts[name] = "ok"
        else:
            bad += 1
            r, b = racing[name], baseline[name]
            verdicts[name] = (
                f"DIFF rows {len(r)} vs {len(b)}; first diff: "
                f"{next((x for x, y in zip(r, b) if x != y), 'tail')}"
            )
    print(json.dumps({"queries": verdicts}))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
