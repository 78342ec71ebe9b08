"""Behavioral pins for mixture.py (oracle parity of the registered rows runs in tools/compare_oracle.py).

Parity alone can't catch a vacuous query — both engines happily agree on
all-false output. These tests pin the semantics: the mixture sampler
actually downsampling over-share sources.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMALL  # noqa: E402

from tools.compare_oracle import compare_frames, duck_connection  # noqa: E402

from impala_base_to_cdw_sizing_spark.operators.mixture import (  # noqa: E402
    SQL_MIX_SOURCES,
    q_mix_sources,
)


def test_mix_sources_downsamples_toward_equal_share(spark):
    rows = q_mix_sources(spark, SF_SMALL).collect()
    assert len(rows) == 20  # one row per source
    downsampled = [r for r in rows if r["keep_rate"] < 1.0]
    assert downsampled, "over-share sources must be downsampled"
    for r in rows:
        assert 0.0 < r["keep_rate"] <= 1.0
        assert r["n_kept"] <= r["n_docs"]
        assert r["tokens_kept"] <= r["avail_tokens"]
        if r["keep_rate"] < 1.0:
            # the realized sample can't exceed availability, and a
            # strictly-downsampled source must drop something at the
            # fixture's doc counts (25 docs/source, rate ~0.5)
            assert r["n_kept"] < r["n_docs"]


def test_mix_sources_parity_at_rounding_sensitive_scale(spark):
    """Oracle parity at sf0.1, where target_tokens' pre-floor value has a
    fractional part >= 0.5 (6767.6): Spark's double->BIGINT cast truncates
    while DuckDB's rounds to nearest, so this scale catches any regression
    to a bare CAST — the sf0.001/sf0.01 fixtures happen to have fractional
    parts below 0.5 and would agree either way."""
    sf_dir = "/root/testdata/sf0.1"
    spark_pdf = q_mix_sources(spark, sf_dir).toPandas()
    # pin that the guard scale really exercises the >= .5 branch: the
    # pre-floor share must round UP under round-to-nearest, i.e. a bare
    # CAST would have diverged here
    pre_floor = float(spark_pdf["avail_tokens"].sum()) * 0.5 / len(spark_pdf)
    assert pre_floor - int(pre_floor) >= 0.5, pre_floor
    duck_pdf = duck_connection(sf_dir).execute(SQL_MIX_SOURCES).fetch_df()
    issues = compare_frames("mix_sources@sf0.1", spark_pdf, duck_pdf)
    assert not issues, "; ".join(issues)
