"""Space-Saving streaming heavy hitters: stream ≡ sequential reference
across micro-batch boundaries, state stays bounded at the capacity, and
the two textbook guarantees (no false negatives above N/cap, per-item
count bounds) hold against exact batch counts on a skewed stream."""

from __future__ import annotations

import collections

from pyspark.sql import types as T

from impala_base_to_cdw_sizing_spark.streaming.heavyhitters import (
    heavyhitters_stream,
    spacesaving_fold,
)

CAP = 4
N_GROUPS = 2

SCHEMA = T.StructType(
    [
        T.StructField("grp", T.LongType()),
        T.StructField("item", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _skewed_rows():
    """Zipf-ish deterministic stream: item_k appears ~400/k times, plus a
    long tail of singletons to force evictions."""
    rows = []
    seq = 0
    for k in range(1, 9):
        for rep in range(400 // k):
            rows.append(f"hot{k}")
    rows += [f"tail{j}" for j in range(200)]
    # deterministic interleave: stable shuffle by a fixed stride walk
    n = len(rows)
    order = [(i * 769) % n for i in range(n)]
    interleaved = [rows[i] for i in order]
    out = []
    for seq, item in enumerate(interleaved):
        out.append((hash_grp(item), item, 1_000 + seq, seq))
    return out


def hash_grp(item: str) -> int:
    return sum(ord(c) for c in item) % N_GROUPS


def _run_stream(spark, tmp_path, batches):
    src = str(tmp_path / "src")
    q = None
    for b in batches:
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        if q is None:
            stream = spark.readStream.schema(SCHEMA).parquet(src)
            q = (
                heavyhitters_stream(stream, cap=CAP)
                .writeStream.outputMode("update")
                .format("memory")
                .queryName("hh_out")
                .start()
            )
        q.processAllAvailable()
    q.stop()
    # update mode appends each batch's full-summary emission in order;
    # the caller slices the final snapshot per group
    return spark.sql("SELECT * FROM hh_out").toPandas()


def test_stream_matches_reference_and_guarantees(spark, tmp_path):
    rows = _skewed_rows()
    cut = len(rows) // 3
    batches = [rows[:cut], rows[cut : 2 * cut], rows[2 * cut :]]
    out = _run_stream(spark, tmp_path, batches)

    # sequential reference: same fold over the full arrival order,
    # per group
    ref: dict[int, dict] = {g: {} for g in range(N_GROUPS)}
    for g, item, _ts, _seq in rows:
        spacesaving_fold([item], ref[g], CAP)

    # the stream's final summary = the LAST len(ref[g]) emissions per
    # group in sink order; easier and exact: for each group take the
    # last emitted snapshot (update-mode emissions arrive in batch
    # order, each a full summary)
    final = {}
    for g in range(N_GROUPS):
        grp_rows = out[out.grp == g]
        # each batch emits a full sorted summary for the group; the last
        # snapshot is the final |summary| rows
        n_last = len(ref[g])
        snap = grp_rows.tail(n_last)
        final[g] = {
            r.item: (r.est_count, r.err) for r in snap.itertuples()
        }
    for g in range(N_GROUPS):
        expect = {i: (c, e) for i, (c, e) in ref[g].items()}
        assert final[g] == expect, (g, final[g], expect)

    # bounded state: never more than CAP tracked items per group
    for g in range(N_GROUPS):
        assert len(ref[g]) <= CAP
        assert len(final[g]) <= CAP

    # guarantees vs exact counts
    exact = collections.Counter(item for _g, item, _t, _s in rows)
    group_n = collections.Counter(g for g, *_ in rows)
    for g in range(N_GROUPS):
        for item, cnt in exact.items():
            if hash_grp(item) != g:
                continue
            if cnt > group_n[g] / CAP:  # must be tracked
                assert item in final[g], (item, cnt, group_n[g])
        for item, (est, err) in final[g].items():
            assert est - err <= exact[item] <= est, (item, est, err)


def test_summary_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill the query between batches, land data while it is down,
    restart from the same checkpoint: the post-restart snapshot must
    CONTINUE the pre-restart counts (state survived) and the sink must
    hold each snapshot exactly once (no replays)."""
    rows = _skewed_rows()
    cut = len(rows) // 2
    batches = [rows[:cut], rows[cut:]]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _start():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            heavyhitters_stream(stream, cap=CAP, output_mode="append")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    spark.createDataFrame(batches[0], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = _start()
    q.processAllAvailable()
    q.stop()
    # batch 2 lands while the query is DOWN
    spark.createDataFrame(batches[1], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = _start()
    q2.processAllAvailable()
    q2.stop()

    # reference: snapshot after batch 1 (fresh state) + snapshot after
    # batch 2 CONTINUING batch 1's state — a state reset would shrink
    # the batch-2 counts to batch-2-only mass
    expect = []
    state: dict[int, dict] = {g: {} for g in range(N_GROUPS)}
    for batch in batches:
        for g in range(N_GROUPS):
            spacesaving_fold(
                [i for gg, i, _t, _s in batch if gg == g], state[g], CAP
            )
            for item in sorted(state[g]):
                expect.append(
                    (g, item, state[g][item][0], state[g][item][1])
                )
    got = sorted(
        (r.grp, r.item, r.est_count, r.err)
        for r in spark.read.parquet(out).collect()
    )
    assert got == sorted(expect)
