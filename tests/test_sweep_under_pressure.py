"""Segmented sweep under forced memory pressure (r7 verdict #8) — slow.

The 128 GiB sandbox never spills, so the segmented sweep's oversized-
bucket story was AQE prose. This test launches ``tools/sweep_pressure.py``
in a SUBPROCESS (the only way to pin driver memory for a fresh JVM):
2 GiB driver, ``spark.memory.fraction=0.15``, local[4] / 8 shuffle
partitions, sf3-derived events (~5.2 M ±events through the sweep). The script
exits 0 only if the sweep's digest equals the DuckDB oracle's; the test
additionally requires that the run actually SPILLED (otherwise it
proved headroom, not spill behavior) and records the measured volume.

Skips (not fails) when the gitignored .testdata/sf3 derivation is
absent — regenerate with ``python tools/gen_sf1.py --copies 30 --out
.testdata/sf3``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

_REPO = Path(__file__).resolve().parent.parent
_SF3 = _REPO / ".testdata" / "sf3"


@pytest.mark.slow
def test_sweep_bit_equal_under_spill():
    if not _SF3.exists():
        pytest.skip(".testdata/sf3 not generated (tools/gen_sf1.py --copies 30)")
    proc = subprocess.run(
        [sys.executable, str(_REPO / "tools" / "sweep_pressure.py"), str(_SF3)],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=_REPO,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["matches_oracle"] is True
    assert result["rows"] > 5_000_000  # sf3: 2 events per kept interval
    # pressure must be real: the squeezed session has ~100 MB of
    # execution+storage memory against a multi-GB shuffle — if nothing
    # spilled, the knobs no longer bite and the test is vacuous
    assert result["memoryBytesSpilled"] + result["diskBytesSpilled"] > 0, result
