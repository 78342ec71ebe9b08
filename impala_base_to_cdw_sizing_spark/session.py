"""SparkSession factory with scale-minded defaults.

Local test runs use ``local[N]``; on a real cluster only the master/memory
settings change — the SQL knobs below (AQE, UTC, Arrow) are correct at any
scale.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Heap for the single local-mode JVM: ``SPARK_DRIVER_MEMORY`` if set,
    else 25% of physical RAM clamped to [8g, 48g].

    In ``local[N]`` the driver JVM IS the whole cluster — N executor
    threads, shuffle buffers, and every ``localCheckpoint`` block share
    one heap that a real deployment would spread over N executors. A
    flat 8g default silently turned the r9 sf30 scale probes into GC
    benchmarks: the three heavies measured α≈1.4-1.7 over a 3× scale-up
    purely from GCLocker retry storms (and the instrumented probe died
    with ``OutOfMemoryError: Java heap space``), while the same plans at
    the same sf with an adequate heap scale linearly. Sizing the harness
    heap to the box keeps large-sf runs measuring the engine, not the
    collector; the env var stays the override for spill-pressure tests
    that NEED a small heap.
    """
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        quarter_g = total_kb // (4 * 1024 * 1024)
        heap_g = min(48, max(8, quarter_g))
        # /proc/meminfo reports HOST RAM inside containers; a cgroup
        # memory limit below host/4 would let the kernel OOM-kill the
        # JVM where a smaller heap is safe (r9 ADVICE). Clamp to 80% of
        # the cgroup limit (v2 then v1), leaving headroom for Python +
        # off-heap; never below 1g so the JVM can still start.
        cg = _cgroup_limit_bytes()
        if cg is not None:
            cap_g = int(cg * 0.8) // (1024**3)
            heap_g = max(1, min(heap_g, cap_g))
        return f"{heap_g}g"
    except (OSError, ValueError, IndexError):
        return "8g"


def _cgroup_limit_bytes() -> int | None:
    """The container memory limit, if one is set: cgroup v2
    ``memory.max`` ("max" = unlimited) or v1 ``memory.limit_in_bytes``
    (huge sentinel ≈ total addressable = unlimited)."""
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            raw = open(path).read().strip()
        except OSError:
            continue
        if raw == "max":
            return None
        try:
            val = int(raw)
        except ValueError:
            continue
        if val >= 1 << 60:  # v1 "unlimited" sentinel
            return None
        return val
    return None


_BYTES_PER_SHUFFLE_PARTITION = 8 * 1024 * 1024  # compressed parquet bytes


def _scaled_partitions(data_dir: str | None, cpus: int) -> int:
    """Shuffle width scaled to the INPUT SIZE, not just the core count
    (r10 verdict #6).

    The r10 sf10 width experiment showed the fixed cores-wide default
    under-partitions big local runs: prefixfilter's sf10 pass dropped
    118→96 s going 32→256 partitions with no plan change (each shuffle
    partition's working set must fit the per-thread share of one JVM
    heap). Rule: one shuffle partition per ~8 MiB of compressed parquet
    input, floored at the core count, capped at 2048 (the ~1.7 GB sf10
    dir lands at ~217 — the measured sweet spot's neighborhood; sf0.1
    and below stay at the core count, so driver-bench numbers are
    unchanged). On a real cluster the same rule holds with the cap
    lifted: width scales with data, the floor with total cores.
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides for width sweeps.
    """
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        try:
            width = int(env)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_SHUFFLE_PARTITIONS={env!r} is not an integer"
            ) from None
        if width < 1:
            raise ValueError(
                f"SPARK_GRAFT_SHUFFLE_PARTITIONS must be >= 1, got {width}"
            )
        return width
    if not data_dir:
        return cpus
    try:
        # a '*.parquet' entry may be a single file OR a Spark-written
        # directory dataset (dir/table.parquet/part-*.parquet) — stat'ing
        # the directory inode would count it as ~4 KiB and silently
        # disable the scale-aware width, so sum the leaf files
        # data files only — sidecars (_SUCCESS, .crc, _metadata) are
        # not scan input and would overcount the width basis (r11 ADVICE)
        total = 0
        for entry in Path(data_dir).glob("*.parquet"):
            if entry.is_dir():
                total += sum(
                    f.stat().st_size
                    for f in entry.rglob("*")
                    if f.is_file() and not f.name.startswith(("_", "."))
                )
            else:
                total += entry.stat().st_size
    except OSError:
        return cpus
    return min(2048, max(cpus, total // _BYTES_PER_SHUFFLE_PARTITION))


def build_spark(
    app_name: str = "impala_base_to_cdw_sizing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    data_dir: str | None = None,
) -> SparkSession:
    """Build a SparkSession, or return the one already running in this
    process unchanged.

    ``getOrCreate()`` would re-apply the runtime SQL confs below to a
    running session, so a CLI call made in-process (a test, the
    benchmark) would reset its caller's shuffle width and AQE settings.

    Defaults are tuned for the local[32] test box but every knob is
    cluster-safe:

    - AQE on (runtime re-plan, skew-join handling, partition coalescing).
    - UTC session timezone (determinism + DuckDB-oracle comparability).
    - Arrow enabled for the few Pandas-UDF paths (multimodal/similarity).
    - shuffle.partitions sized to parallelism AND input scale (pass
      ``data_dir`` so ≥sf1 harness runs measure the plan, not the width),
      not the 200 default.
    """
    running = SparkSession._instantiatedSession
    if running is not None and running._sc._jsc is not None:
        return running
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or _scaled_partitions(data_dir, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet uses TIMESTAMP(NANOS); read as raw long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
