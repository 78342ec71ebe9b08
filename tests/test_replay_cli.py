"""EP2 replay: CSV round-trip through the CLI surface (A5 + I2 + B1-B4)."""

from __future__ import annotations

import csv
import subprocess
import sys
from pathlib import Path
import pytest

ROWS = [
    # query_id, pool, start_time, end_time, duration_millis, reqd_cache_gb,
    # reqd_agg_mem, memory_spilled_gb, cpu_time_sec, query_type,
    # admission_wait, num_backends
    ("q1", "etl", "2021-07-12T01:00:00.000Z", "2021-07-12T01:00:10.000Z",
     10000, 100.0, 150.0, 0.0, 20.0, "QUERY", 0, 2),
    ("q2", "bi", "2021-07-12T01:00:05.500Z", "2021-07-12T01:00:25.500Z",
     20000, 2500.0, 900.0, 1200.0, 120.0, "QUERY", 500, 4),
    ("q3", "etl", "2021-07-12T01:00:20.000Z", "2021-07-12T01:01:00.000Z",
     40000, 90000.0, 45000.0, 0.0, 400.0, "QUERY", 0, 8),  # pruned (pods>100)
]

HEADER = [
    "query_id", "pool", "start_time", "end_time", "duration_millis",
    "reqd_cache_gb", "reqd_agg_mem", "memory_spilled_gb", "cpu_time_sec",
    "query_type", "admission_wait", "num_backends",
]


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_replay_cli_end_to_end(tmp_path: Path):
    input_csv = tmp_path / "history.csv"
    with input_csv.open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(ROWS)
    conf = tmp_path / "sizing.conf"
    conf.write_text(
        "\n".join(
            [
                f"input_file={input_csv}",
                f"output_file={tmp_path}/out_main",
                f"prune_output_file={tmp_path}/out_pruned",
                f"skip_query_file={tmp_path}/out_skipped",
                "pod_limit=100",
            ]
        )
    )
    proc = subprocess.run(
        [sys.executable, "-m", "impala_base_to_cdw_sizing_spark", str(conf)],
        capture_output=True, text=True, timeout=300,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout
    assert "Individual Query Analysis" in out
    assert " Total Queries: 3" in out  # pruned row still counted (G1)
    assert "Queries Over Pod Limit ( 100 ): 1" in out
    main_csv = next((tmp_path / "out_main").glob("*.csv")).read_text()
    assert main_csv.splitlines()[0].startswith("query_id,pool,start_time")
    assert "q3" not in main_csv  # pruned out of the main sink
    pruned_csv = next((tmp_path / "out_pruned").glob("*.csv")).read_text()
    assert "q3" in pruned_csv
    # 24-column contract incl. the preserved header typo
    assert "in_executor_pod_spill" in main_csv.splitlines()[0]


def test_cli_arg_validation(tmp_path: Path):
    repo = str(Path(__file__).resolve().parent.parent)
    r = subprocess.run(
        [sys.executable, "-m", "impala_base_to_cdw_sizing_spark"],
        capture_output=True, text=True, timeout=60, cwd=repo,
    )
    assert r.returncode == 1 and "Config file parameter required" in r.stdout
    r = subprocess.run(
        [sys.executable, "-m", "impala_base_to_cdw_sizing_spark", "/nope.conf"],
        capture_output=True, text=True, timeout=60, cwd=repo,
    )
    assert r.returncode == 1 and "doesn't exist" in r.stdout


def test_console_script_main_reads_sys_argv():
    """``pyproject.toml``'s ``cdw-sizing`` script calls ``main()`` with no
    arguments; it must read ``sys.argv`` rather than raise TypeError."""
    repo = str(Path(__file__).resolve().parent.parent)
    r = subprocess.run(
        [
            sys.executable, "-c",
            "import sys; from impala_base_to_cdw_sizing_spark.__main__ import main;"
            " sys.exit(main())",
        ],
        capture_output=True, text=True, timeout=60, cwd=repo,
    )
    assert r.returncode == 1, r.stderr[-2000:]
    assert "ERROR: Config file parameter required" in r.stdout


def _write_replay(tmp_path: Path, rows) -> Path:
    """Write ``rows`` as a replay CSV and a config that sizes it."""
    input_csv = tmp_path / "history.csv"
    with input_csv.open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)
    conf = tmp_path / "sizing.conf"
    conf.write_text(f"input_file={input_csv}\noutput_file={tmp_path}/out_main\n")
    return conf


def _main_in_process(spark, tmp_path: Path, rows) -> int:
    """Run ``main`` on a replay of ``rows`` in-process, on the shared
    session."""
    from impala_base_to_cdw_sizing_spark.__main__ import main

    return main(["cdw-sizing", str(_write_replay(tmp_path, rows))])


def _malformed_rows() -> list[list]:
    rows = [list(r) for r in ROWS]
    rows[1][HEADER.index("reqd_agg_mem")] = "12GB"
    return rows


@pytest.mark.parametrize(
    "column, bad", [("reqd_agg_mem", "12GB"), ("num_backends", "eight")]
)
def test_malformed_replay_field_is_one_error_line(
    spark, tmp_path: Path, capsys, column, bad
):
    """A field that does not parse as its declared type must stop the
    replay with one ``ERROR:`` line naming the input, exit 1, and write
    no sink — not size the row from a NULL. Both columns are derive
    inputs: CSV column pruning parses only the columns a plan reads."""
    rows = [list(r) for r in ROWS]
    rows[1][HEADER.index(column)] = bad
    rc = _main_in_process(spark, tmp_path, rows)
    out, err = capsys.readouterr()
    assert rc == 1
    errors = [line for line in out.splitlines() if line.startswith("ERROR:")]
    assert len(errors) == 1, out
    assert str(tmp_path / "history.csv") in errors[0] and bad in errors[0], errors[0]
    assert "Total Queries" not in out
    assert "Traceback" not in out + err
    assert not (tmp_path / "out_main").exists()


def test_malformed_replay_field_leaves_no_jvm_stack_on_stderr(tmp_path: Path):
    """The failing task's log4j lines (``ERROR Executor`` with its Java
    stack, ``WARN TaskSetManager``) must not follow the one ``ERROR:``
    line onto the terminal."""
    repo = str(Path(__file__).resolve().parent.parent)
    conf = _write_replay(tmp_path, _malformed_rows())
    r = subprocess.run(
        [sys.executable, "-m", "impala_base_to_cdw_sizing_spark", str(conf)],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert r.returncode == 1, r.stderr[-2000:]
    assert sum(line.startswith("ERROR:") for line in r.stdout.splitlines()) == 1, r.stdout
    stack = [line for line in r.stderr.splitlines() if "at org.apache.spark" in line]
    assert not stack, r.stderr[-2000:]


def test_in_process_main_gives_the_session_its_log_level_back(spark, tmp_path: Path):
    from impala_base_to_cdw_sizing_spark.__main__ import _root_log_level

    spark.sparkContext.setLogLevel("ERROR")
    try:
        assert _main_in_process(spark, tmp_path, _malformed_rows()) == 1
        assert _root_log_level(spark) == "ERROR"
    finally:
        spark.sparkContext.setLogLevel("WARN")


def test_sizing_failure_is_not_reported_as_an_input_error(
    spark, tmp_path: Path, capsys, monkeypatch
):
    """Only the reader's malformed-field error becomes the one-line input
    error; any other Spark failure in sizing propagates with its trace."""
    from pyspark.errors import PySparkValueError

    from impala_base_to_cdw_sizing_spark.plans import pipeline

    def fail(qh, params):
        raise PySparkValueError(
            errorClass="CANNOT_BE_EMPTY", messageParameters={"item": "sizing"}
        )

    monkeypatch.setattr(pipeline, "run_sizing", fail)
    with pytest.raises(PySparkValueError):
        _main_in_process(spark, tmp_path, ROWS)
    assert "ERROR:" not in capsys.readouterr().out
