"""Sweep-manifest invariant (r9 verdict #2), slow tier.

The ANSI-mode sweep and the shuffle-width/core-count sweep are only
evidence for the queries they actually ran. The r9 registry grew past
both sweeps' last recorded runs (ANSI at 213, width at 215, registry at
223) without anything failing — silently. These tests make registry
growth loud: every registered name must appear in the last recorded
manifest of BOTH sweeps, and both manifests must be all-green. The
ANSI manifest must check exactly the registry, so removing a query
without re-running it fails too. Adding a query without re-running the
sweeps fails here.

Regenerate with:
    python tools/compare_oracle.py --all --ansi --manifest=ANSI_SWEEP.json <sf_dir>
    python tools/width_sweep.py --manifest=WIDTH_SWEEP.json <sf_dir>
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow

REPO = Path(__file__).resolve().parent.parent


def _registry_names() -> set[str]:
    import __spark_entry__ as ent

    return set(ent.queries())


def _load(name: str) -> dict:
    path = REPO / name
    assert path.exists(), (
        f"{name} missing — run the sweep with --manifest={name} "
        "(see module docstring)"
    )
    return json.loads(path.read_text())


def test_ansi_sweep_covers_registry():
    m = _load("ANSI_SWEEP.json")
    assert m["ansi"] is True
    # a green claim names the commit it ran on and when
    assert m.get("head_commit") and m.get("utc"), (
        "ANSI_SWEEP.json lacks head_commit/utc — re-run the sweep"
    )
    assert m["fail"] == 0, f"ANSI sweep recorded failures: {m['failed_names']}"
    # exactly the registry: a manifest recorded over a different registry
    # (more names or fewer) is evidence for a different tree
    registry = _registry_names()
    checked = set(m["checked"])
    assert checked == registry, (
        f"ANSI sweep checked names the registry lacks: {sorted(checked - registry)}; "
        f"registered names it did not check: {sorted(registry - checked)} — "
        "re-run tools/compare_oracle.py --all --ansi --manifest=ANSI_SWEEP.json"
    )
    assert m["ok"] == len(registry), (m["ok"], len(registry))


def test_width_sweep_covers_registry():
    m = _load("WIDTH_SWEEP.json")
    configs = m["configs"]
    assert set(configs) >= {"p1", "p7", "p200", "cores4"}, (
        f"width sweep manifest missing session shapes: {sorted(configs)}"
    )
    names = _registry_names()
    for label, c in configs.items():
        assert c["fail"] == 0, f"width sweep [{label}] failures: {c['failed_names']}"
        missing = sorted(names - set(c["checked"]))
        assert not missing, (
            f"registered queries absent from width sweep [{label}]: {missing} — "
            "re-run tools/width_sweep.py --manifest=WIDTH_SWEEP.json"
        )
