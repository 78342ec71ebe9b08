"""Sustained-load measurement for the streaming tier (r5 verdict #8).

Every streaming operator here has functional + recovery tests; this
module adds the MEASURED half of the bounded-state claim: drive ≥100
micro-batches through the two stateful workhorses — Space-Saving heavy
hitters and TTL near-dup candidate generation — and record, per batch,
rows/s and the state store's row count and memory footprint from
``StreamingQueryProgress.stateOperators``. The numbers land in
BASELINE.md; ``tests/test_streaming_load.py`` pins the structural
bounds (state rows ≤ the documented cap, eviction actually shrinks the
live-bucket set) so a regression that lets state track the stream
length fails a test, not a doc.

The driver is a file source with ``maxFilesPerTrigger=1`` — one
pre-written parquet file per micro-batch — rather than the wall-clock
``rate`` source: identical state-transition sequence on every run, no
timing coupling, and the per-batch progress feed is the same. Both
workloads are built so that BOUNDED state is a real claim, not an
artifact of a bounded key space:

* heavy hitters: a fixed hot set plus an ever-fresh singleton tail
  (~half of every batch is items never seen before), so an uncapped
  tracker would grow with the stream. Space-Saving state is one row
  per shard, ``cap`` counters inside — flat by construction.
* near-dup: the live band-key window SLIDES — each batch introduces
  ``keys_per_batch`` buckets and abandons the oldest, with event time
  advancing one minute per batch. Without the event-time TTL the state
  row count would equal every bucket ever touched; with it, cold
  buckets die ``horizon`` past their last arrival, so live state is
  window + horizon/stride, independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

T0_MS = 1_600_000_000_000  # fixed epoch base: runs are replayable

HH_SCHEMA = "grp long, item string, ts_ms long, seq long"
ND_SCHEMA = "doc_id long, ts_ms long, band_id long, band_key long"


def hh_batch_rows(b: int, rows: int, n_groups: int, hot: int = 8):
    """Batch ``b`` of the heavy-hitter stream: ~half the rows cycle a
    fixed ``hot`` set (Zipf-ish: hot k gets ~2x the mass of hot 2k),
    the rest are batch-unique singletons — the unbounded tail that
    makes capped state a falsifiable claim."""
    out = []
    for i in range(rows):
        seq = b * rows + i
        r = (seq * 2_654_435_761) % 2_000
        if r < 1_000:
            k = 1
            while r >= 1_000 - (1_000 >> k) and k < hot:
                k += 1
            item = f"hot{k}"
        else:
            item = f"tail{seq}"
        grp = sum(item.encode()) % n_groups
        out.append((grp, item, T0_MS + seq, seq))
    return out


def nd_batch_rows(b: int, keys_per_batch: int, docs_per_key: int):
    """Batch ``b`` of the banded near-dup stream: buckets ``b ..
    b+keys_per_batch-1`` each receive ``docs_per_key`` docs stamped
    ``T0 + b minutes`` — a sliding key window, so old buckets go cold
    and only the TTL keeps state off the all-keys-ever trajectory."""
    ts = T0_MS + b * 60_000
    return [
        (b * 10_000 + k * 100 + d, ts + d, 0, b + k)
        for k in range(keys_per_batch)
        for d in range(docs_per_key)
    ]


def _drive(
    spark: SparkSession,
    workdir: str,
    name: str,
    schema: str,
    batches,
    operator,
    mode: str,
):
    """Write each row list of ``batches`` as one parquet file, stream
    them back through ``operator`` one file per trigger into the noop
    sink, and return the per-batch progress list."""
    src = f"{workdir}/{name}_src"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "256")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        operator(stream)
        .writeStream.outputMode(mode)
        .format("noop")
        .option("checkpointLocation", f"{workdir}/{name}_ckpt")
        .start()
    )
    q.processAllAvailable()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()
    return progress


def run_heavyhitters_load(
    spark: SparkSession,
    workdir: str,
    n_batches: int = 100,
    rows_per_batch: int = 500,
    n_groups: int = 4,
    cap: int = 16,
):
    from .heavyhitters import heavyhitters_stream

    progress = _drive(
        spark, workdir, "hh", HH_SCHEMA,
        (hh_batch_rows(b, rows_per_batch, n_groups) for b in range(n_batches)),
        lambda s: heavyhitters_stream(s, cap=cap, output_mode="update"),
        "update",
    )
    return summarize(progress, state_bound=n_groups)


def run_neardup_load(
    spark: SparkSession,
    workdir: str,
    n_batches: int = 100,
    keys_per_batch: int = 20,
    docs_per_key: int = 10,
    cap: int = 8,
    horizon_min: int = 10,
):
    from .neardup_stream import neardup_candidates_stream_ttl

    progress = _drive(
        spark, workdir, "nd", ND_SCHEMA,
        (nd_batch_rows(b, keys_per_batch, docs_per_key) for b in range(n_batches)),
        lambda s: neardup_candidates_stream_ttl(
            s.selectExpr(
                "doc_id", "timestamp_millis(ts_ms) AS arrival_ts", "band_id", "band_key"
            ),
            cap=cap,
            horizon=f"{horizon_min} minutes",
            horizon_ms=horizon_min * 60_000,
        ),
        "append",
    )
    # live buckets: the horizon enters TWICE — once as the watermark
    # delay (watermark = max event time - horizon) and once as the
    # timeout offset past a bucket's newest arrival — so with a
    # 1-bucket/minute stride a bucket outlives its last arrival by up
    # to 2*horizon_min batches, plus the one-batch watermark lag:
    # live <= keys_per_batch + 2*horizon_min + 2, INDEPENDENT of
    # stream length (distinct buckets ever touched grows ~1/batch)
    bound = keys_per_batch + 2 * horizon_min + 2
    return summarize(progress, state_bound=bound)


SESSION_SCHEMA = "user_id long, ts long, event_id long"
_SESSION_STEP_NS = 20 * 1_000_000_000  # 20 s between consecutive events
_SESSION_BURST = 5  # events per user visit


def session_batch_rows(b: int, rows: int, n_users: int):
    """Batch ``b`` of the sessionization stream: globally increasing
    timestamps (20 s apart — the time-ordered replay contract), users
    visiting in bursts of ``_SESSION_BURST`` consecutive events. Within
    a burst the 20 s gaps stay inside one session; the SAME user's next
    burst arrives ~n_users·burst·20 s later — far past the 30-min gap —
    so every burst opens a new session and per-user session counts grow
    every revisit while state stays three numbers per user. A buggy
    implementation keeping per-SESSION state would grow with the batch
    count instead."""
    out = []
    for i in range(rows):
        seq = b * rows + i
        burst = seq // _SESSION_BURST
        user = (burst * 2_654_435_761) % n_users
        out.append((user, 1_600_000_000_000_000_000 + seq * _SESSION_STEP_NS, seq))
    return out


def run_session_load(
    spark: SparkSession,
    workdir: str,
    n_batches: int = 100,
    rows_per_batch: int = 500,
    n_users: int = 64,
):
    from .session_stream import session_stream

    progress = _drive(
        spark, workdir, "sess", SESSION_SCHEMA,
        (session_batch_rows(b, rows_per_batch, n_users) for b in range(n_batches)),
        session_stream,
        "update",
    )
    return summarize(progress, state_bound=n_users)


def summarize(progress, state_bound: int):
    """Per-batch series + headline figures from a progress list."""
    state_rows = []
    state_bytes = []
    input_rows = 0
    busy_ms = 0.0
    for p in progress:
        input_rows += p["numInputRows"]
        busy_ms += p["durationMs"]["triggerExecution"]
        op = p["stateOperators"][0]
        state_rows.append(int(op["numRowsTotal"]))
        state_bytes.append(int(op["memoryUsedBytes"]))
    return {
        "batches": len(progress),
        "input_rows": input_rows,
        "busy_sec": round(busy_ms / 1000.0, 3),
        "rows_per_sec": round(input_rows / (busy_ms / 1000.0), 1),
        "state_rows_series": state_rows,
        "state_bytes_series": state_bytes,
        "state_rows_max": max(state_rows),
        "state_rows_last": state_rows[-1],
        "state_bound": state_bound,
        "state_bytes_max": max(state_bytes),
        "state_bytes_last": state_bytes[-1],
    }


SWEEP_SCHEMA = "ts_ms long, sign int, pods_u long"
KMV_SCHEMA = "event_type string, hr long, h long"
_KMV_CLOCK_HOURS = 24  # the fixed clock grid: hr cycles modulo this


def sweep_batch_rows(b: int, rows: int):
    """Batch ``b`` of the sweep-event stream: one hour of ±1 interval
    endpoints (half starts, half ends, signed pods_u micro-units) —
    event time advances one hour per batch, so the 2-hour watermark
    keeps only a constant number of open windows live."""
    hour_ms = 3_600_000
    out = []
    for i in range(rows):
        sign = 1 if i % 2 == 0 else -1
        ts = T0_MS + b * hour_ms + (i * hour_ms) // rows
        out.append((ts, sign, sign * ((i % 7) + 1) * 1_000_000))
    return out


def run_sweep_load(
    spark: SparkSession,
    workdir: str,
    n_batches: int = 100,
    rows_per_batch: int = 500,
):
    """Windowed-concurrency sweep under sustained load: state is the
    un-evicted hour windows — with a 2 h watermark and one hour of
    event time per batch, live windows <= 1 current + 2 watermark-held
    + 1 boundary-straddler, independent of stream length."""
    from .sweep_stream import windowed_concurrency

    progress = _drive(
        spark, workdir, "sweep", SWEEP_SCHEMA,
        (sweep_batch_rows(b, rows_per_batch) for b in range(n_batches)),
        windowed_concurrency,
        "update",
    )
    return summarize(progress, state_bound=4)


def kmv_batch_rows(b: int, n_types: int, rows_per_type: int):
    """Batch ``b`` of the KMV event stream: ``n_types`` event types in
    clock hour ``b % 24``, ``rows_per_type`` mostly-fresh hashes each
    (an unbounded distinct-value tail, so uncapped per-key state would
    grow with volume; the KMV insert rule keeps <= k per key)."""
    hr = b % _KMV_CLOCK_HOURS
    return [
        (f"type{t}", hr, ((b * rows_per_type + d) * 2_654_435_761 + t) % (1 << 62))
        for t in range(n_types)
        for d in range(rows_per_type)
    ]


def run_kmv_load(
    spark: SparkSession,
    workdir: str,
    n_batches: int = 100,
    n_types: int = 4,
    rows_per_type: int = 125,
):
    """Streaming KMV sketch maintenance under sustained load: state is
    one row per occupied (event_type, hour) clock cell — hr cycles
    modulo 24, so state rows <= n_types * 24 regardless of stream
    length or per-key event volume (each cell holds <= k hashes)."""
    from .kmv_stream import kmv_sketch_stream

    progress = _drive(
        spark, workdir, "kmv", KMV_SCHEMA,
        (kmv_batch_rows(b, n_types, rows_per_type) for b in range(n_batches)),
        kmv_sketch_stream,
        "update",
    )
    return summarize(progress, state_bound=n_types * _KMV_CLOCK_HOURS)
