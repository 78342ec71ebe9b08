"""Shuffle-width determinism marker test (r8 verdict #4), slow tier.

The release-gate evidence is the FULL-registry ``tools/width_sweep.py``
run recorded in BASELINE.md; this marker keeps the property regressing
loudly in CI: the most float-adjacent queries (decimal sums, det-ln OLS
chains, integer micro-unit running windows, segmented ranks, power
iteration) must match the sequential DuckDB oracle at shuffle width 1
AND 7 — oracle equality at both widths pins every accumulation order.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow

_FLOAT_ADJACENT = [
    "sizing_sweep_running",    # integer micro-unit running sums
    "sizing_summary",          # DECIMAL utilization integrals
    "rel_gini",                # DECIMAL(38) rank×cents products
    "rel_exact_percentiles",   # exact rank selection
    "text_zipf_fit",           # det-ln OLS (16-sqrt + atanh chain)
    "graph_pagerank_conserving",  # integer nano-unit power iteration
    "sample_importance",       # segmented rank + quantized scores
    "sketch_kmv_distinct",     # k-smallest-hash merge
    "emb_pca_power",           # nano-unit power iteration
]


def test_float_adjacent_queries_match_oracle_at_widths_1_and_7():
    proc = subprocess.run(
        [
            sys.executable, "tools/width_sweep.py",
            "--only=" + ",".join(_FLOAT_ADJACENT),
            "/root/testdata/sf0.01", "p1", "p7",
        ],
        capture_output=True, text=True, timeout=1800,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    for label, res in summary["configs"].items():
        assert res["fail"] == 0, (label, res["failed_names"])
        assert res["ok"] == len(_FLOAT_ADJACENT)
