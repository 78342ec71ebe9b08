"""``bench.py --streaming`` is the root that keeps the streaming tier
reachable: run it in-process on the shared session for a few
micro-batches and check the JSON line it prints."""

from __future__ import annotations

import json
import sys

import bench

OPERATORS = {"heavyhitters", "neardup_ttl", "session", "sweep", "kmv"}


def test_streaming_mode_drives_every_operator(spark, monkeypatch, capsys):
    monkeypatch.setattr(sys, "argv", ["bench.py", "--streaming", "--batches", "3"])
    bench._streaming_mode()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" not in line, line["error"]
    assert line["metric"] == "stream_bench" and line["n_batches"] == 3
    assert set(line["operators"]) == OPERATORS
    for name, op in line["operators"].items():
        assert op["input_rows"] > 0, name
        assert op["state_rows_max"] <= op["state_bound"], name
