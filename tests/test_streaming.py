"""Structured Streaming smoke tests: file-source stream over the events
parquet driven to completion with the memory sink; results must equal the
equivalent batch aggregation (stream/batch parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from caffeonspark_spark.catalog import load_table
from caffeonspark_spark.streaming.windows import (
    dedup_stream,
    read_events_stream,
    run_to_memory,
    session_windows,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_smoke):
    return read_events_stream(spark, sf_smoke)


def test_watermark_tracks_event_time(spark, events_stream):
    """Regression: the tracked watermark must land in the data's epoch (2024),
    not 1970 — a LongType schema forced onto the µs-NTZ parquet column once
    fed millis-as-micros into event-time stats and froze append mode."""
    q = (
        tumbling_counts(events_stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_probe")
        .start()
    )
    q.processAllAvailable()
    wm = (q.lastProgress or {}).get("eventTime", {}).get("watermark")
    q.stop()
    assert wm is not None
    assert "2024-" in wm, f"watermark out of range: {wm}"


def test_tumbling_equals_batch(spark, sf_smoke, events_stream):
    run_to_memory(tumbling_counts(events_stream), "tumbling_out")
    got = spark.sql(
        "SELECT win_start, event_type, n_events FROM tumbling_out"
    ).collect()
    batch = (
        load_table(spark, sf_smoke, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
        .collect()
    )
    # append mode only finalizes windows older than the watermark: the
    # stream's output must be a subset of batch, and complete for windows
    # safely below max_ts - watermark(2h) - width(1h)
    got_set, batch_set = set(map(tuple, got)), set(map(tuple, batch))
    assert got_set <= batch_set
    max_ts = max(b["win_start"] for b in batch)
    import datetime

    horizon = max_ts - datetime.timedelta(hours=3)
    finalized = {t for t in batch_set if t[0] <= horizon}
    assert finalized <= got_set
    assert len(got) > 0


def test_session_windows_run(spark, events_stream):
    run_to_memory(session_windows(events_stream, gap="30 minutes"), "sessions_out")
    rows = spark.sql("SELECT * FROM sessions_out").collect()
    assert len(rows) > 0
    r = rows[0]
    assert r["sess_end"] >= r["sess_start"]
    assert r["n_events"] >= 1


def test_stream_dedup(spark, tmp_path):
    """PLANTED duplicates: the events fixture has zero duplicate ids, so
    the old n==distinct(n) check passed for an identity (or over-dropping)
    dedup — write 100 events duplicated 3x and assert exactly 100 out."""
    import pyspark.sql.functions as F
    from caffeonspark_spark.catalog import load_table

    base = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .orderBy("event_id")
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    tripled = base.unionAll(base).unionAll(base)
    src_dir = str(tmp_path / "dup_events")
    tripled.coalesce(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(tripled.schema)
        .format("parquet")
        .load(src_dir)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    run_to_memory(dedup_stream(stream), "dedup_out")
    out_ids = [r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_out").collect()]
    assert len(out_ids) == 100  # all three copies collapse, nothing over-dropped
    assert sorted(out_ids) == sorted(r["event_id"] for r in base.collect())


def test_stateful_user_stats(spark, events_stream):
    from caffeonspark_spark.streaming.windows import stateful_user_stats

    run_to_memory(stateful_user_stats(events_stream), "userstats_out", output_mode="update")
    rows = spark.sql(
        "SELECT * FROM userstats_out ORDER BY user_id"
    ).collect()
    assert len(rows) > 0
    # totals must equal the batch aggregation for at least the final emit
    import pyspark.sql.functions as F
    from caffeonspark_spark.catalog import load_table

    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    # last emitted row per user holds the running total
    last = {}
    for r in rows:
        last[r["user_id"]] = (r["n_events"], r["total_value"])
    # every user in the batch must have emitted — a key-partitioning bug
    # that silently loses a user was invisible to the per-emitted-row loop
    assert set(last) == set(batch)
    for uid, (n, t) in last.items():
        bn, bt = batch[uid]
        assert n == bn
        assert abs(t - bt) < 1e-6


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: an event arriving hours behind the watermark is
    dropped from an append-mode windowed aggregation (bounded state at
    100 TB/day depends on this)."""
    import time as _time

    from pyspark.sql import functions as F
    from caffeonspark_spark.streaming.windows import EVENTS_SCHEMA, tumbling_counts

    src = str(tmp_path / "stream_src")
    chk = str(tmp_path / "chk")

    def mk_rows(start_id, base_ts_ns, n):
        return [
            (start_id + i, base_ts_ns + i * 1_000_000_000, 1, "click", 1.0, "{}")
            for i in range(n)
        ]

    base = 1_700_000_000 * 1_000_000_000  # fixed epoch nanos
    batch1 = spark.createDataFrame(mk_rows(0, base + 10 * 3600 * 10**9, 20), EVENTS_SCHEMA)
    batch1.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = tumbling_counts(stream, width="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    # batch 2: advance event time by 5 hours (closes earlier windows), plus
    # one LATE straggler 8 hours behind — beyond the 1-hour watermark
    late_rows = mk_rows(100, base + 15 * 3600 * 10**9, 5) + [
        (999, base + 7 * 3600 * 10**9, 1, "late", 9.0, "{}")
    ]
    spark.createDataFrame(late_rows, EVENTS_SCHEMA).write.mode("append").parquet(src)
    q.processAllAvailable()
    # batch 3: advance watermark again so closed windows flush to append sink
    spark.createDataFrame(
        mk_rows(200, base + 20 * 3600 * 10**9, 5), EVENTS_SCHEMA
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM late_out").collect()
    assert len(rows) > 0
    # the straggler's event_type never appears: it was dropped, not aggregated
    assert all(r["event_type"] != "late" for r in rows)
    total = sum(r["n_events"] for r in rows)
    assert total <= 30  # 31 written, the late one dropped (some windows may still be open)
    # emitted-window pin: exactly the two closed windows appear — the
    # base+10h window (20 on-time events; closed when batch 2 advanced the
    # watermark) and the base+15h window (5 events; closed by batch 3) —
    # and the dropped base+7h straggler materialized NO window. Collected
    # timestamps render in the HOST's local timezone (fromInternal), so
    # pin window DELTAS, which are render-timezone-independent, not
    # hours-of-day.
    assert {r["event_type"] for r in rows} == {"click"}
    emitted = sorted((r["win_start"], r["n_events"]) for r in rows)
    assert len(emitted) == 2, emitted
    assert emitted[1][0] - emitted[0][0] == __import__("datetime").timedelta(hours=5)
    assert (emitted[0][1], emitted[1][1]) == (20, 5), emitted


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop/restart from the same checkpoint must continue exactly-once:
    rows written before the stop are not re-emitted, new rows appear."""
    from pyspark.sql import functions as F
    from caffeonspark_spark.streaming.windows import EVENTS_SCHEMA

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    base = 1_700_000_000 * 1_000_000_000

    def rows(start_id, n):
        return [(start_id + i, base + i * 10**9, 1, "click", 1.0, "{}") for i in range(n)]

    spark.createDataFrame(rows(0, 10), EVENTS_SCHEMA).write.mode("overwrite").parquet(src)

    def start():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(src)
            .select("event_id", "event_type", "value")
        )
        return (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == 10

    spark.createDataFrame(rows(100, 7), EVENTS_SCHEMA).write.mode("append").parquet(src)
    q = start()
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 17  # 10 + 7, no re-emission
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == sorted(list(range(10)) + list(range(100, 107)))


def test_session_window_parity_with_batch(spark, sf_smoke, events_stream):
    """Streaming session_window (gap 30 min) and the batch sessionize
    operator must agree on sessions-per-user (same gap rule)."""
    from pyspark.sql import functions as F
    from caffeonspark_spark.operators.temporal import sessionize
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.streaming.windows import session_windows, run_to_memory

    run_to_memory(session_windows(events_stream, gap="30 minutes"), "sess_parity_out")
    stream_counts = {
        r["user_id"]: r["n"]
        for r in spark.sql(
            "SELECT user_id, COUNT(*) AS n FROM sess_parity_out GROUP BY user_id"
        ).collect()
    }
    ev = load_table(spark, sf_smoke, "events")
    # append mode emits only FINALIZED windows: window end (last event + gap)
    # must be at or before the final watermark (global max ts - 2h)
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("wm")
    ).collect()[0]["wm"]
    batch = sessionize(ev, gap_minutes=30).where(
        F.col("sess_end") + F.expr("INTERVAL 30 MINUTES") <= F.lit(horizon)
    )
    batch_counts = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n"))
        .collect()
    }
    assert stream_counts == batch_counts


def test_stream_static_enrichment(spark, sf_smoke, events_stream):
    """Stream-static join enriches every event with its user's dim row;
    totals match the batch join."""
    from pyspark.sql import functions as F
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.streaming.windows import enrich_stream_with_dim, run_to_memory

    # derive a small static dim from the events themselves: per-user tier
    ev_batch = load_table(spark, sf_smoke, "events")
    dim = ev_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events")
    ).withColumn("tier", F.when(F.col("user_events") > 500, "heavy").otherwise("light"))
    enriched = enrich_stream_with_dim(events_stream, dim)
    run_to_memory(
        enriched.groupBy("tier").agg(F.count(F.lit(1)).alias("n")),
        "enrich_out",
        output_mode="complete",
    )
    stream_counts = {r["tier"]: r["n"] for r in spark.sql("SELECT * FROM enrich_out").collect()}
    batch_counts = {
        r["tier"]: r["n"]
        for r in ev_batch.join(dim, "user_id", "left")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stream_counts == batch_counts


def test_stream_stream_interval_join(spark, sf_smoke, events_stream):
    """Stream-stream join (purchase ← preceding clicks within 30 min) must
    produce exactly the rows of the equivalent batch interval join."""
    from pyspark.sql import functions as F
    from caffeonspark_spark.streaming.windows import (
        run_to_memory,
        stream_stream_interval_join,
    )

    purchases = events_stream.where(F.col("event_type") == "purchase")
    clicks = events_stream.where(F.col("event_type") == "click")
    joined = stream_stream_interval_join(purchases, clicks)
    run_to_memory(joined, "ssj_out")
    got = spark.sql("SELECT * FROM ssj_out")

    # batch twin: the catalog's event-time column cast to an instant, exactly
    # what read_events_stream produces (UTC session ⇒ value-preserving)
    ev = load_table(spark, sf_smoke, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    want = p.join(
        c,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 30 minutes"))
        & (F.col("r_ts") <= F.col("l_ts")),
    ).select("l_key", "l_event_id", "l_ts", "r_event_id", "r_ts")

    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_foreach_batch_sink_idempotent(spark, sf_smoke, events_stream, tmp_path):
    """foreachBatch parquet sink: all rows land exactly once, and replaying
    a batch (the recovery path) neither duplicates nor disturbs others."""
    from pyspark.sql import functions as F
    from caffeonspark_spark.streaming.sinks import foreach_batch_parquet, replay_batch

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    slim = events_stream.select("event_id", "user_id", "value")
    q = foreach_batch_parquet(slim, out, ckpt)
    q.processAllAvailable()
    q.stop()

    written = spark.read.parquet(out)
    n_src = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert written.count() == n_src
    assert written.select("event_id").distinct().count() == n_src

    # simulate recovery: re-deliver batch 0's content with the same batch_id
    b0 = written.where(F.col("batch_id") == 0).drop("batch_id")
    replay_batch(spark, b0, out, batch_id=0)
    after = spark.read.parquet(out)
    assert after.count() == n_src
    assert after.select("event_id").distinct().count() == n_src


def test_stream_dedup_state_is_watermark_bounded(spark, events_stream):
    """dropDuplicatesWithinWatermark must appear in the plan (plain
    dropDuplicates on a non-event-time key never evicts state), and a
    duplicate arriving within the horizon must still be suppressed."""
    dd = dedup_stream(events_stream)
    # The analyzed plan node for the WithinWatermark variant is distinct
    # from plain Deduplicate — pin it so a refactor back to the unbounded
    # form fails loudly.
    plan = dd._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan, plan


def test_stream_late_data_parity_matches_oracle(spark):
    """r15 declared row: the watermark late-data DROP policy hash-checked
    — planted stragglers re-sent behind the watermark must vanish (a
    leak re-opens an emitted window and duplicates its row), and every
    real window must emit exactly once after the sentinel closes it."""
    from caffeonspark_spark.streaming.windows import (
        ORACLE_STREAM_LATE_DATA_PARITY,
        stream_late_data_parity,
    )
    from tests.oracle_check import compare

    sf = "/root/testdata/sf0.001"
    ok, msg = compare(
        stream_late_data_parity(spark, sf), ORACLE_STREAM_LATE_DATA_PARITY, sf
    )
    assert ok, msg
    # repeat invocation (driver iterates; sources/sinks must not clash)
    ok2, msg2 = compare(
        stream_late_data_parity(spark, sf), ORACLE_STREAM_LATE_DATA_PARITY, sf
    )
    assert ok2, msg2


def test_stream_dedup_parity_matches_oracle(spark):
    """r14 declared row: tripled in-stream events through
    dropDuplicatesWithinWatermark must roll up exactly like the batch
    events table (each id once); and the raw stream really is tripled —
    the operator has actual duplicates to remove."""
    from caffeonspark_spark.streaming.windows import (
        ORACLE_STREAM_DEDUP_PARITY,
        stream_dedup_parity,
    )
    from tests.oracle_check import compare

    sf = "/root/testdata/sf0.001"
    ok, msg = compare(
        stream_dedup_parity(spark, sf), ORACLE_STREAM_DEDUP_PARITY, sf
    )
    assert ok, msg
    # repeat invocation (the driver iterates; memory sinks must not clash)
    ok2, msg2 = compare(
        stream_dedup_parity(spark, sf), ORACLE_STREAM_DEDUP_PARITY, sf
    )
    assert ok2, msg2


def _state_partitions(progress) -> set[int]:
    return {op["numShufflePartitions"] for op in progress["stateOperators"]}


def test_parity_streams_size_state_partitions_from_source(spark, sf_smoke):
    """The smoke events table is a few KB, so every parity stream starts
    with ONE state partition on every state operator (not the session's
    shuffle width), and the session conf is back to its value after."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from caffeonspark_spark.streaming.windows import (
        stream_join_parity,
        stream_tumbling_parity,
    )

    class Collect(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list = []
            self.done: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.lock:
                self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.done.add(str(event.runId))

    before = spark.conf.get("spark.sql.shuffle.partitions")
    listener = Collect()
    spark.streams.addListener(listener)
    try:
        assert stream_tumbling_parity(spark, sf_smoke).count() > 0
        assert stream_join_parity(spark, sf_smoke).count() > 0
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            with listener.lock:
                if len(listener.done) >= 2:
                    break
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    stateful = [p for p in listener.progress if p.stateOperators]
    assert {p.name.rsplit("_", 1)[0] for p in stateful} == {
        "stream_tumbling_parity",
        "stream_join_parity",
    }
    for p in stateful:
        assert all(op.numShufflePartitions == 1 for op in p.stateOperators), p


def test_partitions_for_bytes_rule(monkeypatch):
    """One partition per started PARTITION_BYTES, at least 1, capped at
    the session width; at the default 64 MB target a multi-GB source gets
    the full cap."""
    from caffeonspark_spark import engine
    from caffeonspark_spark.engine import partitions_for_bytes

    target = engine.PARTITION_BYTES
    assert partitions_for_bytes(0, 32) == 1
    assert partitions_for_bytes(target - 1, 32) == 1
    assert partitions_for_bytes(target, 32) == 2
    assert partitions_for_bytes(3 * target, 32) == 4
    assert partitions_for_bytes(100 * target, 32) == 32
    assert partitions_for_bytes(100 * target, 8) == 8
    monkeypatch.setattr(engine, "PARTITION_BYTES", 64 << 20)
    assert partitions_for_bytes(5 << 30, 32) == 32


def test_restart_keeps_first_start_state_partitions(spark, tmp_path, monkeypatch):
    """The state-partition count is fixed at a checkpoint's first start:
    a restart whose source now reads as multi-GB keeps the first start's
    single partition (Spark restores it from the offset log), and the
    restarted aggregate is still exact. A fresh query seeing the same
    size does get the full session width, so the restart really did
    override the rule."""
    from caffeonspark_spark import engine
    from caffeonspark_spark.streaming import windows
    from caffeonspark_spark.streaming.windows import EVENTS_SCHEMA, start_sized

    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    base = 1_700_000_000 * 1_000_000_000
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width > 1

    def write(start_id, n, mode):
        rows = [
            (start_id + i, base + i * 10**9, i % 3, "click", 1.0, "{}")
            for i in range(n)
        ]
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode(mode).parquet(src)

    def run(name, checkpoint=True):
        agg = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(src)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        writer = agg.writeStream.outputMode("complete").format("memory")
        if checkpoint:
            writer = writer.option("checkpointLocation", chk)
        q = start_sized(writer.queryName(name), agg)
        try:
            q.processAllAvailable()
            return _state_partitions(q.lastProgress)
        finally:
            q.stop()

    write(0, 9, "overwrite")
    assert run("restart_first") == {1}
    write(100, 6, "append")
    # the source "grows" past the full session width's worth of bytes
    grown = width * engine.PARTITION_BYTES
    monkeypatch.setattr(windows, "stream_source_bytes", lambda df: grown)
    assert run("restart_again") == {1}
    got = {r["user_id"]: r["n"] for r in spark.table("restart_again").collect()}
    assert got == {0: 5, 1: 5, 2: 5}
    assert run("restart_fresh", checkpoint=False) == {width}
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == width


def test_stream_reads_directory_layout_events(spark, sf_smoke, tmp_path):
    """An events table written as a DIRECTORY of part files streams every
    row: the stream must equal the single-file layout's, not come back
    empty from a file-name glob that matches nothing."""
    import pyarrow.parquet as pq

    from caffeonspark_spark.streaming.windows import stream_tumbling_parity

    table = pq.read_table(f"{sf_smoke}/events.parquet")
    events_dir = tmp_path / "events.parquet"
    events_dir.mkdir()
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), str(events_dir / "part-00000.parquet"))
    pq.write_table(table.slice(half), str(events_dir / "part-00001.parquet"))

    want = sorted(map(tuple, stream_tumbling_parity(spark, sf_smoke).collect()))
    got = sorted(map(tuple, stream_tumbling_parity(spark, str(tmp_path)).collect()))
    assert want and got == want
