"""Structured Streaming smoke: the file-source stream over the same
events rows must agree with its batch twin (unified-model guarantee)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from bigdataamazon_spark.catalog import load_table
from bigdataamazon_spark.streaming.windows import stream_windowed_counts, windowed_counts


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Re-write sf0.001 events as a micros-timestamped parquet dir the
    streaming file source can watch (the raw testdata file is nanos,
    which the streaming reader rejects like the batch one)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_drops_replays(spark, sf_dir, events_dir):
    """A replayed source (same dir read twice via union of two epochs is
    not expressible with a file source, so duplicate the files) must come
    out with one row per event_id."""
    import os

    from bigdataamazon_spark.streaming.stateful import stream_dedup_events
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    dup_dir = tempfile.mkdtemp(prefix="events_dup_")
    try:
        # two copies of every row -> every event_id is a duplicate
        base = spark.read.parquet(events_dir)
        base.write.mode("overwrite").parquet(dup_dir)
        base.write.mode("append").parquet(dup_dir)

        stream = (
            spark.readStream.schema(EVENT_SCHEMA).format("parquet").load(dup_dir)
        )
        q = (
            stream_dedup_events(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_stream")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(
                "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream"
            ).collect()[0]
        finally:
            q.stop()
        assert got["n"] == got["d"] == base.count()
    finally:
        shutil.rmtree(dup_dir, ignore_errors=True)


def test_stateful_user_counts_matches_batch(spark, sf_dir, events_dir):
    """applyInPandasWithState running totals: after draining the source,
    the latest row per user must equal the batch groupBy."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.stateful import stateful_user_counts
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    stream = spark.readStream.schema(EVENT_SCHEMA).format("parquet").load(events_dir)
    q = (
        stateful_user_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM stateful_counts").collect()
        }  # update mode appends each revision; dict keeps the last
    finally:
        q.stop()

    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    expected = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert got == expected


def test_stream_sessions_match_batch(spark, sf_dir, events_dir):
    """session_window under readStream (update mode, single micro-batch)
    must produce the batch sessionization exactly."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.stateful import (
        session_aggregate,
        stream_user_sessions,
    )
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    src = spark.read.parquet(events_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = session_aggregate(src)
    # session windows stream in APPEND mode only: a session emits once the
    # watermark passes its end. With delay 0 the watermark reaches max(ts),
    # so exactly the sessions ending at or before max(ts) are closed; each
    # user's final session (end = last_ts + gap > max_ts) stays open in
    # state — that's the contract, so that's what we assert.
    max_ts = src.agg(F.max("ts")).collect()[0][0]
    expected = {
        tuple(r)
        for r in batch.filter(
            F.col("session_end").cast("timestamp") <= F.lit(max_ts)
        ).collect()
    }

    stream = spark.readStream.schema(EVENT_SCHEMA).format("parquet").load(events_dir)
    q = (
        stream_user_sessions(stream, watermark="0 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT * FROM stream_sessions").collect()}
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_stream_matches_batch(spark, sf_dir, events_dir):
    batch = windowed_counts(spark.read.parquet(events_dir))
    expected = {tuple(r) for r in batch.collect()}

    stream_df = stream_windowed_counts(spark, events_dir)
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT * FROM stream_counts").collect()}
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_tws_user_counts_matches_batch(spark, sf_dir, events_dir):
    """transformWithStateInPandas (Spark 4 typed-state API) must produce
    the same per-user running totals as the GroupState operator and the
    batch groupBy. Runs on the RocksDB state store (required by the
    operator); the provider conf is restored afterwards so the other
    streaming tests keep the default store."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.stateful import (
        transform_with_state_session_confs,
        tws_runtime_available,
        tws_user_counts,
    )

    if not tws_runtime_available():
        pytest.skip(
            "transformWithStateInPandas needs google.protobuf at runtime "
            "(pyspark[connect] extra); not present in this environment"
        )
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    confs = transform_with_state_session_confs()
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        stream = (
            spark.readStream.schema(EVENT_SCHEMA).format("parquet").load(events_dir)
        )
        q = (
            tws_user_counts(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_counts")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r["user_id"]: (r["n_events"], r["total_value"])
                for r in spark.sql("SELECT * FROM tws_counts").collect()
            }
        finally:
            q.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    expected = {
        r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()
    }
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir):
    """The watermarked stream-stream interval join must produce exactly
    the batch twin's pairs once all input is processed (append mode —
    inner interval joins emit when the watermark passes)."""
    from bigdataamazon_spark.streaming.joins import (
        click_purchase_pairs,
        stream_click_purchase_pairs,
    )

    q = (
        stream_click_purchase_pairs(spark, events_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cp_pairs")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["click_id"], r["purchase_id"])
            for r in spark.sql("SELECT * FROM cp_pairs").collect()
        }
    finally:
        q.stop()

    ev = spark.read.parquet(events_dir)
    batch = click_purchase_pairs(
        ev.filter(ev.event_type == "click"),
        ev.filter(ev.event_type == "purchase"),
    )
    expected = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    assert got == expected
    assert len(got) > 0


def test_foreachbatch_upsert_snapshot_matches_batch(spark, sf_dir, events_dir):
    """The foreachBatch merge sink must leave the snapshot at
    last-writer-wins per user_id — identical to the batch window
    computed over the same rows."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.sinks import read_snapshot, stream_upsert_sink
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    snap_dir = tempfile.mkdtemp(prefix="snap_")
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_")
    try:
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
            .load(events_dir)
            .select("user_id", "event_id", "ts", "event_type", "value")
        )
        q = stream_upsert_sink(
            stream,
            snap_dir,
            ["user_id"],
            "ts",
            checkpoint_dir=ckpt_dir,
            query_name="upsert_smoke",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = read_snapshot(spark, snap_dir)
        batch = spark.read.parquet(events_dir).select(
            "user_id", "event_id", "ts", "event_type", "value"
        )
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("user_id"))
        want = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # one row per user; ties on ts are possible across files, so
        # compare (user_id, ts) — the last-writer key — not event ids
        got_m = {(r.user_id, r.ts) for r in got.collect()}
        want_m = {(r.user_id, r.ts) for r in want.collect()}
        assert got.count() == batch.select("user_id").distinct().count()
        assert got_m == want_m
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def test_upsert_batch_out_of_order_never_regresses(spark):
    """A replayed/late micro-batch carrying an OLDER version of a key
    must not overwrite the newer snapshot row."""
    import datetime
    import os

    from bigdataamazon_spark.streaming.sinks import read_snapshot, upsert_batch

    snap_dir = tempfile.mkdtemp(prefix="snap_ooo_")
    try:
        t1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
        t2 = datetime.datetime(2024, 1, 1, 13, 0, 0)
        newer = spark.createDataFrame([(7, t2, "new")], "k bigint, ts timestamp, v string")
        older = spark.createDataFrame([(7, t1, "old"), (8, t1, "other")],
                                      "k bigint, ts timestamp, v string")
        upsert_batch(newer, snap_dir, ["k"], "ts", 0)
        upsert_batch(older, snap_dir, ["k"], "ts", 1)
        got = {(r.k, r.v) for r in read_snapshot(spark, snap_dir).collect()}
        assert got == {(7, "new"), (8, "other")}
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)


def _kv_batch(spark, rows):
    return spark.createDataFrame(rows, "k bigint, ts timestamp, v string")


def test_upsert_batch_replayed_epoch_leaves_snapshot_unchanged(spark):
    """A crash between the pointer swap and the offset commit replays the
    epoch the pointer already names; the replay must be a no-op, not an
    overwrite of the version the merge is reading."""
    import datetime
    import os

    from bigdataamazon_spark.streaming.sinks import read_snapshot, upsert_batch

    snap_dir = tempfile.mkdtemp(prefix="snap_replay_")
    try:
        t = datetime.datetime(2024, 1, 1, 12, 0, 0)
        b0 = _kv_batch(spark, [(1, t, "a"), (2, t, "b")])
        b1 = _kv_batch(spark, [(2, t + datetime.timedelta(hours=1), "b2"), (3, t, "c")])
        upsert_batch(b0, snap_dir, ["k"], "ts", 0)
        upsert_batch(b1, snap_dir, ["k"], "ts", 1)
        before = sorted(read_snapshot(spark, snap_dir).collect())
        upsert_batch(b1, snap_dir, ["k"], "ts", 1)
        assert sorted(read_snapshot(spark, snap_dir).collect()) == before
        assert {(r.k, r.v) for r in before} == {(1, "a"), (2, "b2"), (3, "c")}
        with open(os.path.join(snap_dir, "_CURRENT")) as f:
            assert f.read() == "v1"
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)


def test_upsert_batch_retains_two_versions(spark):
    """Superseded snapshot versions are deleted after each swap: at most
    the current version and the one it replaced remain, and the snapshot
    still equals batch last-writer-wins over every micro-batch."""
    import datetime
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.sinks import read_snapshot, upsert_batch

    snap_dir = tempfile.mkdtemp(prefix="snap_retain_")
    try:
        t = datetime.datetime(2024, 1, 1, 12, 0, 0)
        batches = [
            _kv_batch(spark, [(k, t + datetime.timedelta(minutes=e * 10 + k), f"e{e}k{k}")
                              for k in range(e, e + 3)])
            for e in range(4)
        ]
        for epoch, b in enumerate(batches):
            upsert_batch(b, snap_dir, ["k"], "ts", epoch)
        versions = [d for d in os.listdir(snap_dir) if d.startswith("v")]
        assert len(versions) <= 2, versions
        everything = batches[0]
        for b in batches[1:]:
            everything = everything.unionByName(b)
        w = Window.partitionBy("k").orderBy(F.desc("ts"), F.desc("v"))
        want = everything.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
        assert sorted(read_snapshot(spark, snap_dir).collect()) == sorted(want.collect())
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)


def test_upsert_batch_empty_batch_writes_nothing(spark):
    """A micro-batch with no rows (a no-data batch that only evicts
    watermark state) neither reads nor rewrites the snapshot; only the
    first batch, with no snapshot yet, writes an empty one."""
    import datetime
    import os

    from bigdataamazon_spark.streaming.sinks import read_snapshot, upsert_batch

    snap_dir = tempfile.mkdtemp(prefix="snap_empty_")
    try:
        t = datetime.datetime(2024, 1, 1, 12, 0, 0)
        upsert_batch(_kv_batch(spark, []), snap_dir, ["k"], "ts", 0)
        assert read_snapshot(spark, snap_dir).count() == 0
        upsert_batch(_kv_batch(spark, [(1, t, "a")]), snap_dir, ["k"], "ts", 1)
        upsert_batch(_kv_batch(spark, []), snap_dir, ["k"], "ts", 2)
        assert sorted(os.listdir(snap_dir)) == ["_CURRENT", "v0", "v1"]
        assert [(r.k, r.v) for r in read_snapshot(spark, snap_dir).collect()] == [(1, "a")]
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)


def test_upsert_batch_other_query_at_current_epoch_raises(spark):
    """The replay guard skips an epoch only for the query that wrote it.
    A query with a fresh checkpoint that reaches the epoch the pointer
    names must neither drop its batch nor overwrite the version it
    reads: it raises and the snapshot stays as it was."""
    import datetime

    import pytest

    from bigdataamazon_spark.streaming.sinks import read_snapshot, upsert_batch

    snap_dir = tempfile.mkdtemp(prefix="snap_owner_")
    sc = spark.sparkContext
    try:
        t = datetime.datetime(2024, 1, 1, 12, 0, 0)
        sc.setLocalProperty("sql.streaming.queryId", "query-a")
        upsert_batch(_kv_batch(spark, [(1, t, "a")]), snap_dir, ["k"], "ts", 0)
        upsert_batch(_kv_batch(spark, [(1, t, "a")]), snap_dir, ["k"], "ts", 0)  # replay
        sc.setLocalProperty("sql.streaming.queryId", "query-b")
        with pytest.raises(RuntimeError, match="belongs to one checkpoint"):
            upsert_batch(_kv_batch(spark, [(2, t, "b")]), snap_dir, ["k"], "ts", 0)
        assert [(r.k, r.v) for r in read_snapshot(spark, snap_dir).collect()] == [(1, "a")]
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
        shutil.rmtree(snap_dir, ignore_errors=True)


def test_upsert_sink_runs_dedup_state_once_per_batch(spark, events_dir, tmp_path):
    """Each micro-batch executes the stream's stateful plan once: the
    dedup operator's state-row metric never exceeds the distinct event
    ids read. Every extra action on the batch frame re-runs the operator
    and adds its rows to the metric again."""
    import json

    from bigdataamazon_spark.streaming.sinks import stream_upsert_sink
    from bigdataamazon_spark.streaming.stateful import stream_dedup_events
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    src = str(tmp_path / "src")
    events = spark.read.parquet(events_dir)
    events.repartition(3).write.parquet(src)  # three data micro-batches
    stream = spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    # a watermark longer than the data's span keeps every id in state
    q = stream_upsert_sink(
        stream_dedup_events(stream, watermark="60 days"),
        str(tmp_path / "snapshot"),
        ["user_id"],
        "ts",
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="upsert_once",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")]
    n_ids = events.select("event_id").distinct().count()
    assert len(state_rows) >= 3 and max(state_rows) <= n_ids, (state_rows, n_ids)
    assert state_rows[-1] == n_ids


def test_stream_static_broadcast_enrichment(spark, sf_dir, events_dir):
    """Stream-static join: a streaming fact leg enriched by a static
    (broadcastable) dimension — no watermark needed on the static side,
    and the result matches the batch twin row-for-row. The static side
    here is a per-user first-seen table derived once in batch."""
    import pyspark.sql.functions as F

    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.min("ts").alias("first_seen"))

    stream = spark.readStream.schema(EVENT_SCHEMA).format("parquet").load(events_dir)
    enriched = (
        stream.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), "user_id")
        .select(
            "event_id",
            "user_id",
            (F.col("ts").cast("timestamp").cast("long")
             - F.col("first_seen").cast("timestamp").cast("long")).alias("age_s"),
        )
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_purchases")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["age_s"])
        for r in spark.sql("SELECT * FROM enriched_purchases").collect()
    }
    batch = ev.filter(F.col("event_type") == "purchase").join(dim, "user_id")
    want = {
        (r["event_id"], r["age_s"])
        for r in batch.select(
            "event_id",
            (F.col("ts").cast("timestamp").cast("long")
             - F.col("first_seen").cast("timestamp").cast("long")).alias("age_s"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_watermark_guarantee_no_reemission_after_eviction(spark):
    """Append-mode late-data GUARANTEE (the one Spark actually makes —
    probed empirically on this build): a late row arriving while its
    window's state is still live MAY still aggregate, but once the
    watermark has closed and emitted a window, later rows for it are
    dropped — the window emits exactly once, never a corrected
    duplicate. That single-emission property is what makes append-mode
    sinks safe to bill on."""
    import datetime as dt
    import glob
    import os

    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA, windowed_counts

    d = tempfile.mkdtemp(prefix="late_events_")
    try:
        # Each micro-batch is one explicitly-named parquet file with an
        # explicitly-set, strictly-increasing mtime: the file source
        # orders batches by (mod time, path), and coarse-granularity
        # filesystems / CI stalls must not be able to collapse two
        # batches into one ordering slot (no sleep-based ordering).
        mtime0 = 1_700_000_000

        def write(rows, batch_no):
            stage = tempfile.mkdtemp(prefix="late_stage_")
            try:
                spark.createDataFrame(
                    [(i, dt.datetime(2024, 1, 1, h, m, 0), 1, "click", 1.0, "{}")
                     for i, h, m in rows],
                    EVENT_SCHEMA,
                ).coalesce(1).write.mode("overwrite").parquet(stage)
                part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
                dst = os.path.join(d, f"batch-{batch_no:04d}.parquet")
                shutil.move(part, dst)
                os.utime(dst, (mtime0 + batch_no, mtime0 + batch_no))
            finally:
                shutil.rmtree(stage, ignore_errors=True)

        write([(1, 10, 0), (2, 11, 0)], 0)  # wm -> 10:50 after b0
        write([(3, 11, 5)], 1)   # b1: evicts+emits window 10:00 (n=1)
        write([(4, 10, 2)], 2)   # b2: LATE, state gone -> must drop
        write([(5, 11, 30)], 3)  # b3: pushes wm past 11:10

        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(d)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            windowed_counts(stream.withWatermark("ts", "10 minutes"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("late_stream")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = [
                (r.window_start, r.n)
                for r in spark.sql("SELECT * FROM late_stream").collect()
            ]
        finally:
            q.stop()
        emitted_10 = [x for x in rows if x[0] == "2024-01-01 10:00:00"]
        # exactly one emission, with the on-time count only: the late
        # event-4 neither re-opened the window nor produced a duplicate
        assert emitted_10 == [("2024-01-01 10:00:00", 1)], rows
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_daily_counts_match_incremental_batch(spark, sf_dir, events_dir):
    """Streaming twin of the incremental_daily_counts registry entry:
    a watermarked update-mode aggregation drained through the
    snapshot-upsert sink must land exactly on the batch aggregate over
    the same rows. Counts are monotone per key, so the count column
    itself is the last-writer arbitration order — a replayed or
    reordered micro-batch can only re-assert an equal-or-newer total."""
    import os

    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.sinks import read_snapshot, stream_upsert_sink
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    snap_dir = tempfile.mkdtemp(prefix="snapdc_")
    ckpt_dir = tempfile.mkdtemp(prefix="ckptdc_")
    try:
        agg = (
            spark.readStream.schema(EVENT_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 day")
            .groupBy(
                F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        )
        q = stream_upsert_sink(
            agg,
            snap_dir,
            ["day", "event_type"],
            "n",
            checkpoint_dir=ckpt_dir,
            query_name="daily_counts_upsert",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {
            (str(r["day"]), r["event_type"]): (r["n"], round(r["sv"], 2))
            for r in read_snapshot(spark, snap_dir).collect()
        }
        batch = (
            spark.read.parquet(events_dir)
            .groupBy(
                F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        )
        want = {
            (str(r["day"]), r["event_type"]): (r["n"], r["sv"]) for r in batch.collect()
        }
        assert got == want
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def test_stream_stream_left_outer_join_emits_null_rows(spark, sf_dir):
    """Left-outer stream-stream interval join: matched pairs == the
    batch inner join's pairs, and once a far-future sentinel advances
    the watermark past every click's join window, a null-extended row
    exists for EXACTLY the unmatched clicks. (Without the sentinel the
    youngest unmatched clicks legitimately stay in state — eviction
    uses the previous batch's watermark.)"""
    import datetime

    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.joins import (
        click_purchase_pairs,
        stream_click_purchase_pairs_outer,
    )

    src_dir = tempfile.mkdtemp(prefix="events_outer_")
    try:
        base = load_table(spark, sf_dir, "events")
        base.write.mode("overwrite").parquet(src_dir)

        q = (
            stream_click_purchase_pairs_outer(spark, src_dir)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("cp_outer")
            .start()
        )
        try:
            q.processAllAvailable()
            # sentinel: one inert far-future event pushes the watermark
            # beyond every click's (ts + horizon) deadline
            # Watermarks sit per-LEG after the event-type filter, and the
            # join evicts on min(click_wm, purchase_wm) — so the sentinel
            # must contain a far-future CLICK and PURCHASE (2h apart: the
            # 1h horizon keeps them from joining). Two sentinel batches:
            # the first advances the watermark, the second triggers the
            # eviction pass that uses it (null emission runs one
            # micro-batch behind the watermark).
            far = base.agg(F.max("ts")).collect()[0][0] + datetime.timedelta(days=2)
            h = datetime.timedelta(hours=2)
            for i in (0, 1):
                sentinel = spark.createDataFrame(
                    [
                        (10**9 + 2 * i, far + 2 * i * h, 10**6, "click", 0.0, "{}"),
                        (10**9 + 2 * i + 1, far + (2 * i + 1) * h, 10**6, "purchase", 0.0, "{}"),
                    ],
                    base.schema,
                )
                sentinel.write.mode("append").parquet(src_dir)
                q.processAllAvailable()
            rows = spark.sql("SELECT * FROM cp_outer").collect()
        finally:
            q.stop()

        got_matched = {
            (r["click_id"], r["purchase_id"]) for r in rows if r["purchase_id"] is not None
        }
        # sentinel clicks (>= 10^9) may themselves expire and emit null
        # rows — plumbing, not data; drop them from the comparison
        got_null = {
            r["click_id"]
            for r in rows
            if r["purchase_id"] is None and r["click_id"] < 10**9
        }

        # sentinels (event_id >= 10^9) are harness plumbing, not data:
        # exclude them from the batch expectation too.
        ev = (
            spark.read.parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_id") < 10**9)
        )
        clicks = ev.filter(ev.event_type == "click")
        purchases = ev.filter(ev.event_type == "purchase")
        inner = click_purchase_pairs(clicks, purchases)
        expected_matched = {(r["click_id"], r["purchase_id"]) for r in inner.collect()}
        assert got_matched == expected_matched

        matched_clicks = {c for c, _ in expected_matched}
        all_clicks = {r["event_id"] for r in clicks.collect()}
        assert got_null == all_clicks - matched_clicks
        assert len(got_null) > 0
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_python_streaming_source_replays_generator_exactly(spark, tmp_path):
    """The Python streaming source (SimpleDataSourceStreamReader)
    delivers precisely the deterministic generator prefix across
    micro-batches — offsets advance by batch_rows, content matches the
    batch source row-for-row."""
    import time

    from bigdataamazon_spark.sources import pysource

    pysource.register(spark)
    sdf = (
        spark.readStream.format("synthetic_rows")
        .option("batch_rows", 25)
        .option("max_rows", 50)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("pysrc_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM pysrc_stream").first()[0] >= 50:
                break
            time.sleep(0.5)
        got = sorted(
            (r["id"], r["bucket"], r["v"])
            for r in spark.sql("SELECT * FROM pysrc_stream").collect()
        )
    finally:
        q.stop()
    assert got == [(i, i % 10, pysource.row_value(i)) for i in range(50)]


def test_state_store_reader_exposes_agg_state(spark, tmp_path):
    """Spark 4 state introspection: the `statestore` batch source reads
    a streaming aggregation's checkpoint; its (key, value) rows must
    equal the stream's own complete-mode output — the production
    debugging surface for stateful operators (inspect/repair state
    without replaying the stream)."""
    import os

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (1, "c"), (3, "d"), (2, "e")], ["k", "v"]
    ).write.json(os.path.join(src, "f1"))
    sdf = spark.readStream.schema("k bigint, v string").json(os.path.join(src, "*"))
    q = (
        sdf.groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("state_reader_t")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    live = {
        (r["k"], r["count"])
        for r in spark.sql("SELECT * FROM state_reader_t").collect()
    }
    state = spark.read.format("statestore").load(ck)
    from_state = {
        (r["key"]["k"], r["value"]["count"]) for r in state.collect()
    }
    assert from_state == live == {(1, 2), (2, 2), (3, 1)}
    meta = spark.read.format("state-metadata").load(ck)
    ops = {r["operatorName"] for r in meta.collect()}
    assert "stateStoreSave" in ops


def test_python_streaming_source_restart_no_dup_no_loss(spark, tmp_path):
    """Kill the stream mid-way and restart from the checkpoint: the
    offset log + readBetweenOffsets replay must deliver every generator
    row exactly once across both runs into the (recoverable) file sink
    — the exactly-once contract the offset/commit logs exist for."""
    import time

    from bigdataamazon_spark.sources import pysource

    pysource.register(spark)
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("synthetic_rows")
            .option("batch_rows", 10)
            .option("max_rows", 60)
            .load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def rows_in_sink():
        try:
            return spark.read.json(out).count()
        except Exception:
            return 0

    q1 = start()
    try:
        deadline = time.time() + 90
        while time.time() < deadline and rows_in_sink() < 20:
            time.sleep(0.3)
    finally:
        q1.stop()
    n_first = rows_in_sink()
    assert n_first > 0, "first run committed nothing"

    q2 = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline and rows_in_sink() < 60:
            time.sleep(0.3)
    finally:
        q2.stop()
    got = sorted(
        (r["id"], r["bucket"], r["v"]) for r in spark.read.json(out).collect()
    )
    assert got == [(i, i % 10, pysource.row_value(i)) for i in range(60)]


def _commit_count(ckpt: str) -> int:
    import os

    try:
        return len(
            [f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")]
        )
    except FileNotFoundError:
        return 0


def _drain_and_finalize(q, ckpt: str) -> None:
    """processAllAvailable + wait for the watermark-finalizing no-data
    micro-batch: processAllAvailable only guarantees the DATA batches,
    and the final watermark advance is emitted by a no-data batch that
    races with stop() (observed as the last file's windows missing)."""
    import time

    q.processAllAvailable()
    seen = _commit_count(ckpt)
    deadline = time.time() + 20
    while time.time() < deadline and _commit_count(ckpt) <= seen:
        time.sleep(0.2)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


def test_dedup_state_survives_restart(spark, sf_dir, events_dir, tmp_path):
    """The recovery twin of test_stream_dedup_drops_replays: replays of
    phase-1 events arrive ONLY after the query is stopped and restarted
    from its checkpoint, so dropping them requires the
    dropDuplicatesWithinWatermark key state to be RESTORED from the
    state store — if state were lost the count overshoots by exactly
    the plant size; if the sink commit log were broken the replayed
    batch double-writes. Scale receipt: tools/stream_recovery.py
    (1M events, 2000 cross-restart replays, STREAM_RECOVERY_r09.json)."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.stateful import stream_dedup_events
    from bigdataamazon_spark.streaming.windows import EVENT_SCHEMA

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    base = spark.read.parquet(events_dir)
    n_unique = base.select("event_id").distinct().count()
    min_ts, max_ts = base.agg(F.min("ts"), F.max("ts")).first()
    split_ts = min_ts + (max_ts - min_ts) / 2
    p1 = base.filter(F.col("ts") <= F.lit(split_ts))
    p2 = base.filter(F.col("ts") > F.lit(split_ts))
    # replays of phase-1 originals from the last 10 days of phase-1
    # event time: above the checkpointed watermark (p1_max - 15 days),
    # so only restored key state can drop them
    replays = p1.filter(
        F.col("ts") >= F.lit(split_ts) - F.expr("INTERVAL 10 DAYS")
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    n_replays = replays.count()
    assert n_replays > 0

    def start():
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        return (
            stream_dedup_events(stream, watermark="15 days")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    p1.repartition(2).write.parquet(src)
    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    # phase 2 appears only after the restartable stop: replays first
    replays.coalesce(1).write.mode("append").parquet(src)
    p2.coalesce(1).write.mode("append").parquet(src)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)

    n_out = spark.read.parquet(sink).count()
    assert n_out == n_unique, (
        f"emitted {n_out} vs {n_unique} unique ids "
        f"({n_replays} cross-restart replays planted)"
    )


def _windowed_counts_across_restart(spark, events_dir, tmp_path, first_partitions=None):
    """Run the first half of the events through the windowed stream,
    stop, land the second half and restart from the checkpoint. Every
    sink row must equal its batch-twin row (multiset exceptAll == 0
    catches lost state, double-emission, and double-written files), and
    every window the final watermark closed must be present. The first
    run uses ``first_partitions`` shuffle partitions when given. Returns
    the restarted query's last progress."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.streaming.windows import (
        EVENT_SCHEMA,
        stream_windowed_counts,
        windowed_counts,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    base = spark.read.parquet(events_dir)
    min_ts, max_ts = base.agg(F.min("ts"), F.max("ts")).first()
    split_ts = min_ts + (max_ts - min_ts) / 2

    def start():
        return (
            stream_windowed_counts(spark, src, max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    base.filter(F.col("ts") <= F.lit(split_ts)).repartition(2).write.parquet(src)
    default_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    if first_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(first_partitions))
    try:
        q = start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default_partitions)

    base.filter(F.col("ts") > F.lit(split_ts)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = start()
    _drain_and_finalize(q2, ckpt)

    stream_in = spark.read.schema(EVENT_SCHEMA).parquet(src)
    twin = windowed_counts(stream_in.withColumn("ts", F.col("ts").cast("timestamp")))
    got = spark.read.parquet(sink)
    assert got.exceptAll(twin).count() == 0
    # exactly the windows below the final watermark (max ts - 10 min)
    (max_ts,) = stream_in.agg(F.max(F.col("ts").cast("timestamp"))).first()
    expected = twin.filter(
        F.to_timestamp("window_start") + F.expr("INTERVAL 10 MINUTES")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    n_got, n_expected = got.count(), expected.count()
    assert n_got >= n_expected, f"{n_got} emitted vs {n_expected} closed windows"
    return q2.lastProgress


def test_windowed_agg_state_survives_restart(spark, sf_dir, events_dir, tmp_path):
    """Windowed-agg partial state across a restart: phase 2 lands after
    the stop, so windows straddling the phase boundary finish
    accumulating in a RESTORED state store."""
    _windowed_counts_across_restart(spark, events_dir, tmp_path)


def test_windowed_checkpoint_keeps_its_state_partitions(spark, events_dir, tmp_path):
    """A checkpoint written with 8 shuffle partitions (the session
    default on hosts with fewer than 8 cores before streams got one
    state partition per core) restarts under today's default with the
    count it recorded, and its state is still whole."""
    progress = _windowed_counts_across_restart(
        spark, events_dir, tmp_path, first_partitions=8
    )
    ops = progress["stateOperators"]
    assert ops and all(op["numShufflePartitions"] == 8 for op in ops), ops
