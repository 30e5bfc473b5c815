"""Structured Streaming tests: stream ≡ batch on the same events data
(the defining correctness property), plus the stateful sessionizer."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.queries import load_all
from shmr_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
    tumbling_window_stream,
)


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_rate_source_smoke(spark):
    """The windowed transformations are source-agnostic: swap the file
    source for Spark's built-in rate source (kafka-shaped: monotonic
    timestamps, unbounded) and the same tumbling-window agg runs. One
    micro-batch into a memory sink; asserts rows arrived with the
    expected schema."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("event_type"),
            (F.col("value") % 10).cast("double").alias("value"),
        )
    )
    sdf = tumbling_window_stream(rate, window="1 second", watermark="2 seconds")
    q = (
        sdf.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_smoke")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    rows = []
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM rate_smoke").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert rows, "rate-source stream produced no windows in 30 s"
    assert set(rows[0].asDict()) == {"window_start", "event_type", "n", "sum_value"}


def test_tumbling_stream_equals_batch(spark, sf_dir, events_dir):
    stream_out = run_stream_to_memory(
        tumbling_window_stream(read_events_stream(spark, events_dir)),
        "tumbling_test",
        output_mode="complete",
    )
    batch_out = load_all()["window_tumbling"].fn(spark, sf_dir)
    s = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert s == b


def test_sessionize_stream_final_state_equals_batch(spark, sf_dir, events_dir):
    stream_df = sessionize_stream(read_events_stream(spark, events_dir))
    q = (
        stream_df.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode emits one row per user per batch — the LAST row per
    # user is the final state
    final = (
        spark.sql("SELECT * FROM sess_test")
        .groupBy("user_id")
        .agg(F.max("n_sessions").alias("n_sessions"), F.max("n_events").alias("n_events"))
    )
    batch = load_all()["sessionize"].fn(spark, sf_dir)
    s = {(r.user_id, r.n_sessions, r.n_events) for r in final.collect()}
    b = {(r.user_id, r.n_sessions, r.n_events) for r in batch.collect()}
    assert s == b


class _StubState:
    """The part of GroupState that _session_fold uses."""

    def __init__(self, value=None):
        self.exists = value is not None
        self.get = value

    def update(self, value):
        self.exists, self.get = True, value


def _fold(chunks, state=None):
    import pandas as pd

    from shmr_spark.streaming.stateful import _session_fold

    st = _StubState(state)
    out = next(_session_fold((7,), [pd.DataFrame({"epoch": c}) for c in chunks], st))
    return (int(out["n_sessions"][0]), int(out["n_events"][0])), st.get


def test_session_fold_does_not_depend_on_chunking():
    """A trigger's events of one user can arrive in several pandas
    chunks in any time order; the count must be that of the sorted
    events (gap 1800 s)."""
    whole, state = _fold([[0, 5000]])
    assert whole == (2, 2) and state == (5000, 2, 2)
    assert _fold([[5000], [0]]) == (whole, state)
    assert _fold([[5000], [], [0]]) == (whole, state)
    # carried state: 100 continues the session ended at 0; 9000 opens one
    assert _fold([[9000], [100]], state=(0, 1, 1)) == ((2, 3), (9000, 2, 3))
    assert _fold([], state=(0, 1, 1)) == ((1, 1), (0, 1, 1))


def test_sessionize_stream_equals_batch_when_groups_span_chunks(
    spark, sf_dir, tmp_path
):
    """Same as the stream ≡ batch check, over the events in descending
    time order and with Arrow batches of 3 rows, so every user with
    more than 3 events reaches the fold in chunks, later ones first."""
    import pyarrow.parquet as pq

    events_dir = tmp_path / "events_desc"
    events_dir.mkdir()
    table = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(table.sort_by([("ts", "descending")]), events_dir / "events.parquet")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        q = (
            sessionize_stream(read_events_stream(spark, str(events_dir)))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("sess_chunked")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        final = spark.sql(
            "SELECT user_id, max(n_sessions), max(n_events) FROM sess_chunked"
            " GROUP BY user_id"
        ).collect()
    finally:
        spark.conf.set(key, before)
    batch = load_all()["sessionize"].fn(spark, sf_dir)
    assert {tuple(r) for r in final} == {
        (r.user_id, r.n_sessions, r.n_events) for r in batch.collect()
    }


def test_watermark_present_in_plan(spark, events_dir):
    sdf = tumbling_window_stream(read_events_stream(spark, events_dir), watermark="2 hours")
    assert "EventTimeWatermark" in sdf._jdf.queryExecution().analyzed().toString()


def test_stream_to_parquet_sink(spark, sf_dir, events_dir, tmp_path):
    """File sink with watermark: windows finalize in append mode and
    the written parquet equals the batch aggregation for closed
    windows (every window closes here — bounded input + final flush)."""
    from shmr_spark.streaming.sinks import stream_to_parquet

    out = str(tmp_path / "agg_out")
    ckpt = str(tmp_path / "ckpt")
    sdf = tumbling_window_stream(
        read_events_stream(spark, events_dir), watermark="1 minute"
    )
    q = stream_to_parquet(sdf, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.parquet(out)
    batch = load_all()["window_tumbling"].fn(spark, sf_dir)
    w = {tuple(r) for r in written.collect()}
    b = {tuple(r) for r in batch.collect()}
    # append mode only emits windows the watermark has closed; with a
    # bounded file source every window except the last closes
    assert w.issubset(b)
    assert len(w) >= len(b) - len({r[1] for r in b})  # at most one open window per type


def test_stream_foreach_batch_collects_epochs(spark, events_dir, tmp_path):
    from shmr_spark.streaming.sinks import stream_foreach_batch

    seen: list[tuple[int, int]] = []

    def sink(df, epoch_id):
        seen.append((epoch_id, df.count()))

    sdf = sessionize_stream(read_events_stream(spark, events_dir))
    q = stream_foreach_batch(sdf, sink, str(tmp_path / "ckpt2"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen and all(n >= 0 for _, n in seen)
    assert [e for e, _ in seen] == sorted({e for e, _ in seen})  # one call per epoch


def test_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream self-join emits exactly the batch
    interval-join pairs (one-directional window)."""
    import shutil

    from pyspark.sql import functions as F

    from shmr_spark.catalog import load_table
    from shmr_spark.streaming import (
        interval_join_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d)
    got = run_stream_to_memory(
        interval_join_stream(
            read_events_stream(spark, str(d)), read_events_stream(spark, str(d))
        ),
        "t_stream_ij",
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    a = ev.select("user_id", F.col("event_id").alias("ea"), F.unix_micros("ts").alias("ua"))
    b = ev.select(
        F.col("user_id").alias("ub_key"), F.col("event_id").alias("eb"),
        F.unix_micros("ts").alias("ub"),
    )
    batch = (
        a.join(b, (a.user_id == b.ub_key))
        .filter((F.col("ub") > F.col("ua")) & (F.col("ub") - F.col("ua") <= 300_000_000))
        .select("ea", "eb")
    )
    assert {(r.event_id_a, r.event_id_b) for r in got.collect()} == {
        (r.ea, r.eb) for r in batch.collect()
    }


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark removes replayed events (the
    at-least-once-source dedup pattern): feeding the same file twice
    yields each event exactly once.

    max_files_per_trigger=1 is load-bearing: the duplicate file must
    arrive in a LATER micro-batch so the dedup crosses the state
    store, not just one batch's in-memory pass. With the engine's
    batched default (64 files/trigger, round 6) both copies would
    land in a single trigger and cross-batch state eviction/matching
    would go untested."""
    import shutil

    from shmr_spark.streaming import read_events_stream, run_stream_to_memory

    d = tmp_path / "dup"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")

    deduped = (
        read_events_stream(spark, str(d), max_files_per_trigger=1)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = run_stream_to_memory(deduped, "t_stream_dedup", output_mode="append")
    from shmr_spark.catalog import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    rows = got.collect()
    assert len(rows) == n_events
    assert len({r.event_id for r in rows}) == n_events


def test_stream_reads_ltz_written_corpus(spark, sf_dir, tmp_path):
    """A corpus written back out AFTER load_table normalization carries
    ts as plain TIMESTAMP (LTZ) — the physical form the sf1-derived
    bench corpus has. The stream reader must branch on it; declaring
    NTZ there silently nulls the column (0 output rows — the bug the
    bench's streaming scale row caught)."""
    d = tmp_path / "ltz_events"
    d.mkdir()
    load_table(spark, sf_dir, "events").write.parquet(str(d / "events.parquet"))
    stream_out = run_stream_to_memory(
        tumbling_window_stream(read_events_stream(spark, str(d))),
        "ltz_stream_test",
        output_mode="complete",
    )
    batch_out = load_all()["window_tumbling"].fn(spark, sf_dir)
    s = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert s == b


def test_stream_dedup_equals_batch(spark, sf_dir, tmp_path):
    """Planted duplicates: every event appears twice in the source;
    the watermark-bounded streaming dedup must deliver exactly the
    batch-distinct set. coalesce(1) forces ALL rows (both copies)
    into one part file — one micro-batch — so the dedup state, not
    watermark-based late-row eviction across micro-batches, is what
    removes the duplicates."""
    from shmr_spark.streaming.dedup import dedup_stream_watermarked

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.lit("{}").alias("props"),
    )
    doubled = ev.union(ev)
    d = tmp_path / "dup_events"
    d.mkdir()
    doubled.coalesce(1).write.parquet(str(d / "events.parquet"))

    from shmr_spark.streaming import read_events_stream

    deduped = dedup_stream_watermarked(
        read_events_stream(spark, str(d)), ["event_id"]
    )
    out = run_stream_to_memory(deduped, "stream_dedup_test", output_mode="append")
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


def test_stream_enrich_equals_batch_and_keeps_unmatched(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment ≡ the batch join on the same
    data, and the default LEFT join keeps stream rows whose key is
    missing from the dimension (enrichment must not drop events)."""
    from shmr_spark.streaming import (
        enrich_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    ev = load_table(spark, sf_dir, "events")
    d = tmp_path / "enrich_events"
    d.mkdir()
    ev.coalesce(2).write.parquet(str(d / "events.parquet"))

    # dim covers only even user ids — odd ids must survive with nulls
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    enriched = enrich_stream(
        read_events_stream(spark, str(d)).select("event_id", "user_id"),
        dim,
        on="user_id",
    )
    out = run_stream_to_memory(enriched, "enrich_left_test", output_mode="append")
    assert out.count() == ev.count()  # no rows dropped
    nulls = out.filter(F.col("c_mktsegment").isNull())
    assert nulls.count() == ev.filter(F.col("user_id") % 2 == 1).count()

    batch = ev.select("event_id", "user_id").join(dim, "user_id", "left")
    assert {tuple(r) for r in out.select("event_id", "c_mktsegment").collect()} == {
        tuple(r) for r in batch.select("event_id", "c_mktsegment").collect()
    }


def test_streaming_dedup_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-restart with a checkpoint: the dedup state must
    survive the restart. Run 1 processes wave A and stops; wave B
    replays every wave-A key plus new ones; run 2 (same checkpoint)
    must emit ONLY the new keys — if state were lost, wave A's keys
    would re-emit and the sink would hold duplicates."""
    import os

    from shmr_spark.catalog import load_table
    from shmr_spark.streaming import read_events_stream
    from shmr_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    wave_a = ev.filter(F.col("user_id") % 2 == 0)
    wave_a.coalesce(1).write.parquet(os.path.join(src, "wave_a.parquet"))

    def run_once():
        stream = read_events_stream(spark, src).select("user_id", "event_type")
        q = (
            dedup_stream(stream, ["user_id", "event_type"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_wave_a = spark.read.parquet(sink).count()
    assert n_wave_a == wave_a.select("user_id", "event_type").distinct().count()

    # wave B: the FULL corpus — every wave-A key again, plus the odd
    # users
    ev.coalesce(1).write.parquet(os.path.join(src, "wave_b.parquet"))
    run_once()

    out = spark.read.parquet(sink)
    want = ev.select("user_id", "event_type").distinct().count()
    assert out.count() == want
    assert out.distinct().count() == want


def test_idempotent_batch_writer_replaces_on_replay(spark, sf_dir, tmp_path):
    """Exactly-once via dynamic partition overwrite: re-delivering an
    epoch (simulated sink retry) REPLACES its output instead of
    appending duplicates, and a partial first attempt leaves no
    residue."""
    from shmr_spark.catalog import load_table
    from shmr_spark.streaming import idempotent_batch_writer

    out = str(tmp_path / "sink")
    write = idempotent_batch_writer(out)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")

    batch0 = ev.filter(F.col("event_id") % 3 == 0)
    batch1 = ev.filter(F.col("event_id") % 3 == 1)
    write(batch0, 0)
    write(batch1, 1)
    n0, n1 = batch0.count(), batch1.count()
    assert spark.read.parquet(out).count() == n0 + n1

    # retry epoch 0 with a DIFFERENT (partial) payload — the recipe
    # must replace epoch 0's partition wholesale, leaving epoch 1
    # untouched
    partial = batch0.limit(5)
    write(partial, 0)
    got = spark.read.parquet(out)
    assert got.filter(F.col("batch_id") == 0).count() == 5
    assert got.filter(F.col("batch_id") == 1).count() == n1
    assert got.count() == 5 + n1


def test_foreach_batch_stream_with_idempotent_sink(spark, sf_dir, tmp_path):
    """End-to-end: a replayed file stream through foreachBatch +
    idempotent writer delivers exactly the batch row set."""
    import os

    from shmr_spark.catalog import load_table
    from shmr_spark.queries.analytics import stage_events_copy
    from shmr_spark.streaming import (
        idempotent_batch_writer,
        read_events_stream,
        stream_foreach_batch,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    stage_events_copy(sf_dir, src)
    out = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")

    stream = read_events_stream(spark, src).select("event_id", "user_id")
    q = stream_foreach_batch(
        stream, idempotent_batch_writer(out), chk, output_mode="append"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = load_table(spark, sf_dir, "events").count()
    got = spark.read.parquet(out)
    assert got.count() == want
    assert got.select("event_id").distinct().count() == want


def test_state_partitions_pinned_across_restart(spark, sf_dir, tmp_path):
    """The per-stream state-partition option (streaming/tuning.py —
    the measured per-trigger fixed-cost lever): first start under
    ``state_partitions(5)`` must run 5 state stores, the bracket must
    restore the session conf, and a RESTART from the same checkpoint
    WITHOUT the option must keep the pinned 5 (the offset log owns
    the count) while the dedup state survives — end state identical
    to the batch distinct over both waves."""
    import os

    from shmr_spark.streaming import read_events_stream, state_partitions
    from shmr_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "wave_a.parquet")
    )

    def run_once(n):
        stream = read_events_stream(spark, src).select("user_id", "event_type")
        with state_partitions(spark, n):
            q = (
                dedup_stream(stream, ["user_id", "event_type"])
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        return q

    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    q1 = run_once(5)
    # bracket restored the session conf
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_conf
    assert q1.lastProgress["stateOperators"][0]["numShufflePartitions"] == 5

    # wave B: every wave-A key again plus the odd users; restart with
    # NO option — the checkpoint's pinned count must win over the
    # session default
    ev.coalesce(1).write.parquet(os.path.join(src, "wave_b.parquet"))
    q2 = run_once(None)
    assert q2.lastProgress["stateOperators"][0]["numShufflePartitions"] == 5

    out = spark.read.parquet(sink)
    want = ev.select("user_id", "event_type").distinct().count()
    assert out.count() == want
    assert out.distinct().count() == want
