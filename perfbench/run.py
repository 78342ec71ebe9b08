"""Repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload replay_csv --seed 1 --seconds 15 --trace 0

A run generates the workload's inputs from the seed (``gen.py``, in a
child process, under ``.perfbench/`` of the checkout), sets the engine's
Spark session up ``SETUPS`` times (JVM launch, ``build_spark``, first
action), runs ``WARMUP_ITERATIONS`` warm-up iterations and then measured
iterations, at least ``MIN_ITERATIONS`` and for at least ``--seconds``
seconds, and checks each iteration's outputs against the numpy oracle
outside the timed region. Between iterations it clears
Spark's cache and every module-level memo of the engine, and it fails
the run if the job, stage or task count of any measured iteration (or,
traced, of any span) differs from the others.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced iterations and prints the per-layer metrics from
status-store diffs around each wrapped engine call, plus the tracing
overhead. The last stdout line is the JSON result; the line before it
and ``.perfbench/results/`` hold the details (per-iteration walls, load
average, counters, spans).
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS  # noqa: E402

PACKAGE = "impala_base_to_cdw_sizing_spark"
SETUPS = 2
# a fresh JVM needs two passes to compile the plans and JIT-warm the
# driver and data paths; later passes still drift a few percent, so the
# run measures the two warmest. Two set-ups, two warm-ups and two measured
# passes keep one run near a minute on 4 cores.
WARMUP_ITERATIONS = 2
MIN_ITERATIONS = 2

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s"}

_SPAN_FIELDS = {
    "sources.files.read_query_history_csv": {"s": "s"},
    "plans.pipeline.prepare_query_history": {"s": "s"},
    "plans.pipeline.run_sizing": {
        "s": "s", "jobs": "count", "stages": "count", "tasks": "count",
        "task_cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s",
    },
    "plans.reports.collect_report_values": {
        "s": "s", "jobs": "count", "stages": "count", "stages_skipped": "count",
        "task_cpu_s": "s", "shuffle_mb": "MB",
    },
    "sinks.write_sizing_outputs": {
        "s": "s", "jobs": "count", "task_cpu_s": "s", "bytes_out": "bytes",
        "files_out": "count", "rows_kept": "count", "rows_pruned": "count",
        "rows_skipped": "count",
    },
    "sources.cm_api.load_api_queries": {
        "s": "s", "pages": "count", "bytes": "bytes", "rows": "count",
    },
}
PER_LAYER = {
    "session.build_spark.s": "s",
    **{f"{span}.{f}": u for span, fields in _SPAN_FIELDS.items() for f, u in fields.items()},
    "sources.cm_api.page_p50_ms": "ms",
    "sources.cm_api.page_p75_ms": "ms",
    "iteration.jobs": "count",
    "iteration.stages": "count",
    "iteration.tasks": "count",
    "iteration.task_cpu_s": "s",
    "iteration.shuffle_mb": "MB",
    "tracing.overhead_s": "s",
    "process.peak_rss_mb": "MB",
}


def source_id() -> str:
    """The commit if the checkout is a git work tree, else a digest of
    the engine's sources."""
    if (ROOT / ".git").exists():
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    digest = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        digest.update(p.relative_to(ROOT).as_posix().encode())
        digest.update(p.read_bytes())
    return "src-" + digest.hexdigest()[:16]


def percentile(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


class Engine:
    """The Spark session the workloads drive, set up from a cold JVM."""

    def __init__(self, work: Path) -> None:
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        }
        self.spark = None

    def setup(self) -> tuple[float, float]:
        """Launch the JVM, build the session, run a first action; returns
        (build_spark seconds, total seconds)."""
        from impala_base_to_cdw_sizing_spark.session import build_spark

        t0 = time.perf_counter()
        self.spark = build_spark("perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        self.spark.range(1).count()
        return t1 - t0, time.perf_counter() - t0

    def jvm_peak_rss_kb(self) -> int:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def teardown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def generate_inputs(workload: str, seed: int, inputs: Path) -> dict:
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "gen.py"), workload, str(seed), str(inputs)],
        capture_output=True, text=True, check=True, timeout=120,
    )
    return json.loads(out.stdout.splitlines()[-1])


def layer_metrics(traced: list[dict], setups: list[tuple[float, float]], overhead: float,
                  iterations: list[dict], peak_rss_mb: float) -> dict[str, float]:
    values: dict[str, list[float]] = {}
    for it in traced:
        for sp in it["spans"]:
            for f in _SPAN_FIELDS.get(sp["name"], {}):
                v = sp["end"] - sp["start"] if f == "s" else sp.get(f, 0)
                values.setdefault(f"{sp['name']}.{f}", []).append(v)
    out = {k: statistics.median(v) for k, v in values.items()}
    page_ms = [ms for it in iterations for ms in it.get("page_ms", [])]
    if page_ms:
        out["sources.cm_api.page_p50_ms"] = statistics.median(page_ms)
        # the highest percentile with ten samples beyond it at 2 x 20 pages
        out["sources.cm_api.page_p75_ms"] = percentile(page_ms, 0.75)
    out["session.build_spark.s"] = statistics.median(b for b, _ in setups)
    for f in ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_mb"):
        out[f"iteration.{f}"] = statistics.median(it["counters"][f] for it in iterations)
    out["tracing.overhead_s"] = overhead
    out["process.peak_rss_mb"] = peak_rss_mb
    return {k: out.get(k, 0) for k in PER_LAYER}


def leak_guard(workload: str, iterations: list[dict]) -> list[str]:
    """Every measured pass must do identical work."""
    errors = []
    keys = ("jobs", "stages", "tasks")
    shapes = {tuple(it["counters"][k] for k in keys) for it in iterations}
    if len(shapes) > 1:
        errors.append(f"leak guard: {workload} passes differ in (jobs, stages, tasks): "
                      f"{sorted(shapes)}")
    per_span: dict[str, set] = {}
    for it in iterations:
        for sp in it.get("spans", []):
            per_span.setdefault(sp["name"], set()).add(tuple(sp[k] for k in keys))
    for name, seen in per_span.items():
        if len(seen) > 1:
            errors.append(f"leak guard: {name} differs between passes: {sorted(seen)}")
    return errors


def run(args, work: Path) -> tuple[dict, dict]:
    from perfbench import trace
    from perfbench.state import ModuleState

    nproc = len(os.sched_getaffinity(0))
    started = dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")
    phases = {"start": time.perf_counter()}
    inputs = work / "inputs"
    manifest = generate_inputs(args.workload, args.seed, inputs)
    memos = ModuleState(PACKAGE)
    phases["generate"] = time.perf_counter()

    engine = Engine(work)
    setups = []
    errors: list[str] = []
    iterations: list[dict] = []
    attempted = failed = 0
    try:
        for i in range(SETUPS):
            if i:
                engine.teardown()
            setups.append(engine.setup())
        phases["setup"] = time.perf_counter()
        spark = engine.spark
        store = trace.StatusStore(spark)
        wl = WORKLOADS[args.workload](spark, inputs, work, manifest)

        def iterate(traced: bool) -> dict:
            nonlocal attempted, failed
            tracer = trace.Tracer(store)
            load = os.getloadavg()[0]
            mark = store.mark()
            attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.patched(wl.trace_targets()):
                        out = wl.run_once()
                else:
                    out = wl.run_once()
                wall = time.perf_counter() - t0
                counters = store.since(mark)
                problems = wl.check(out)
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
                wall = time.perf_counter() - t0
                counters = store.since(mark)
                problems = [f"{type(e).__name__}: {e}"]
            if problems:
                failed += 1
                errors.extend(problems)
            spark.catalog.clearCache()
            reset = memos.restore()
            return {
                "wall_s": wall, "traced": traced, "loadavg1": load, "nproc": nproc,
                "counters": counters, "memos_reset": reset, "ok": not problems,
                "spans": tracer.to_json() if traced else [], **wl.iteration_stats(),
            }

        try:
            warmup = [iterate(False) for _ in range(WARMUP_ITERATIONS)]
            measured_from = phases["warmup"] = time.perf_counter()
            # traced runs alternate plain and traced passes, two of each
            minimum = MIN_ITERATIONS * (2 if args.trace else 1)
            while (len(iterations) < minimum
                   or time.perf_counter() - measured_from < args.seconds):
                traced = bool(args.trace) and len(iterations) % 2 == 1
                iterations.append(iterate(traced))
            phases["measure"] = time.perf_counter()
            peak_kb = (engine.jvm_peak_rss_kb()
                       + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
        finally:
            wl.close()
    finally:
        engine.teardown()

    # the pass-equality check is one more operation
    leaks = leak_guard(args.workload, iterations)
    errors.extend(leaks)
    attempted += wl.ops + 1
    failed += wl.failed_ops + bool(leaks)
    phases["teardown"] = time.perf_counter()
    marks = list(phases.items())
    phases_s = {name: t - prev for (_, prev), (name, t) in zip(marks, marks[1:])}

    plain = [it["wall_s"] for it in iterations if not it["traced"]]
    wall = statistics.median(plain)
    if args.trace:
        traced = [it for it in iterations if it["traced"]]
        overhead = statistics.median(it["wall_s"] for it in traced) - wall
        metrics = {k: (v, PER_LAYER[k]) for k, v in
                   layer_metrics(traced, setups, overhead, iterations, peak_kb / 1024).items()}
    else:
        values = {
            "setup_s": statistics.median(s for _, s in setups),
            "wall_s": wall,
            "rows_per_s": manifest["rows"] / wall,
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    manifest.pop("page_bytes", None)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": source_id(), "utc": started, "nproc": nproc,
        "input": manifest, "setups": [{"build_spark_s": b, "setup_s": s} for b, s in setups],
        "phases_s": phases_s, "warmup": warmup, "iterations": iterations,
        "failed_frac": failed / attempted, "errors": errors[:20],
    }
    return result, detail


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        import impala_base_to_cdw_sizing_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / f"work-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # keep every temp file inside the checkout and pin the engine's
    # environment-dependent knobs to their defaults
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (results / name).write_text(json.dumps({**detail, "result": result}, indent=1))
    for it in (*detail["warmup"], *detail["iterations"]):
        it.pop("spans")
        it.pop("page_ms", None)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
