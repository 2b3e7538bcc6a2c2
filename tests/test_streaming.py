"""True streaming semantics that a single-batch replay can't show: watermark
late-row dropping across micro-batches, and incremental session-window
emission. Micro-batch boundaries are forced by adding source files between
`processAllAvailable()` calls on a live query."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataselector_spark.schemas import EVENTS_PHYSICAL
from dataselector_spark.streaming import session_windows, tumbling_counts


def _write_events(path: str, rows: list[tuple[int, str, int, str, float]]):
    """rows: (event_id, ts_iso, user_id, event_type, value) → ns-timestamp
    parquet matching the testdata events layout."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [int(pd.Timestamp(r[1]).value) for r in rows],  # ns epoch int64
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": ["{}" for _ in rows],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), path)


BATCH1 = [
    (1, "2024-01-01 10:00:00", 1, "x", 1.0),
    (2, "2024-01-01 10:05:00", 1, "x", 1.0),
    (3, "2024-01-01 12:00:00", 1, "x", 1.0),
]
# Late relative to the post-batch-1 watermark (12:00 − 10 min = 11:50),
# plus one fresh event that advances the watermark further.
BATCH2 = [
    (4, "2024-01-01 10:05:30", 1, "x", 1.0),
    (5, "2024-01-01 13:00:00", 1, "x", 1.0),
]


def _run_two_batches(spark, tmp_path, build_agg, name):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events(os.path.join(src, "a.parquet"), BATCH1)
    raw = spark.readStream.schema(EVENTS_PHYSICAL).parquet(src)
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    q = (
        build_agg(events)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 → watermark advances to 11:50
        _write_events(os.path.join(src, "b.parquet"), BATCH2)
        q.processAllAvailable()  # batch 2: late row dropped, window emitted
    finally:
        q.stop()
    return spark.table(name).collect()


def test_watermark_drops_late_rows(spark, tmp_path):
    rows = _run_two_batches(
        spark,
        tmp_path,
        lambda ev: tumbling_counts(ev.withWatermark("ts", "10 minutes"), "10 minutes"),
        "wm_test",
    )
    by_start = {str(r.wstart): r.n for r in rows}
    # 10:00-10:10 window: finalized with batch-1 rows only — the late
    # batch-2 row (10:05:30) arrived behind the 11:50 watermark and was
    # dropped, NOT merged (would show n=3) nor re-emitted.
    assert by_start["2024-01-01 10:00:00"] == 2
    # 12:00 window finalized once the 13:00 event pushed the watermark past
    # its end; the 13:00 window stays open (never emitted).
    assert by_start["2024-01-01 12:00:00"] == 1
    assert "2024-01-01 13:00:00" not in by_start


def test_session_window_emits_closed_sessions(spark, tmp_path):
    rows = _run_two_batches(
        spark,
        tmp_path,
        lambda ev: session_windows(ev.withWatermark("ts", "10 minutes"), "30 minutes"),
        "sess_test",
    )
    sessions = {str(r.session_start): r.n_events for r in rows}
    # 10:00 + 10:05 merged into one session [10:00, 10:35); the late 10:05:30
    # row was dropped (did not extend the closed session).
    assert sessions["2024-01-01 10:00:00"] == 2
    # 12:00 session closed by the 13:00 watermark advance.
    assert sessions["2024-01-01 12:00:00"] == 1


def test_stateful_toggle_carries_state_across_batches(spark, tmp_path):
    """B20 toggle: a key clicked in batch 1 and again in batch 2 must come
    back OFF in batch 2 — i.e. the selected-set state survives the
    micro-batch boundary (the streaming analogue of updateClicked's
    remove-on-dupe, index.js:516-526)."""
    from pyspark.sql import functions as F

    from dataselector_spark.functions.keys import minute_key
    from dataselector_spark.streaming.stateful import toggle_stream

    src = str(tmp_path / "toggle_src")
    os.makedirs(src)
    # batch 1: clicks at minutes 10:00 (k1) and 10:05 (k2)
    _write_events(os.path.join(src, "a.parquet"), [
        (1, "2024-01-01 10:00:00", 1, "A", 1.0),
        (2, "2024-01-01 10:05:00", 1, "A", 1.0),
    ])
    raw = spark.readStream.schema(EVENTS_PHYSICAL).parquet(src)
    clicks = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).select(
        F.col("event_type").alias("compound"), minute_key("ts").alias("date_key")
    )
    q = (
        toggle_stream(clicks)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("toggle_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: re-click k2 (must toggle OFF), click new k3
        _write_events(os.path.join(src, "b.parquet"), [
            (3, "2024-01-01 10:05:30", 1, "A", 1.0),  # same minute as k2
            (4, "2024-01-01 11:00:00", 1, "A", 1.0),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r.batch_seq, r.date_key): r.selected for r in spark.table("toggle_test").collect()}
    assert rows[(1, "2024-01-01 10:00")] is True
    assert rows[(1, "2024-01-01 10:05")] is True
    assert rows[(2, "2024-01-01 10:05")] is False  # state carried, toggled off
    assert rows[(2, "2024-01-01 11:00")] is True


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Fault-tolerance posture: stop a checkpointed stream, add data,
    restart from the same checkpoint — the windowed counts must reflect
    every source row exactly once (no reprocessing of batch-1 rows, no
    loss of batch-2 rows). This is the recovery contract a 1000-executor
    deployment leans on; complete-mode output lets us assert totals."""
    src = str(tmp_path / "ck_src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_events(os.path.join(src, "a.parquet"), BATCH1)

    def start():
        raw = spark.readStream.schema(EVENTS_PHYSICAL).parquet(src)
        events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return (
            tumbling_counts(events, "10 minutes")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("ck_test")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _write_events(os.path.join(src, "b.parquet"), BATCH2)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    totals = {str(r.wstart): r.n for r in spark.table("ck_test").collect()}
    # 10:00 window: rows 1,2 from batch1 + late row 4 (no watermark here) = 3
    assert totals["2024-01-01 10:00:00"] == 3
    assert totals["2024-01-01 12:00:00"] == 1
    assert totals["2024-01-01 13:00:00"] == 1
    assert sum(totals.values()) == len(BATCH1) + len(BATCH2)  # exactly once


def test_foreachbatch_idempotent_parquet_sink(spark, tmp_path):
    """foreachBatch + per-batch-id overwrite = the idempotent custom-sink
    pattern: a retried/reprocessed micro-batch overwrites its own directory
    instead of appending duplicates, giving exactly-once delivery to sinks
    with no native transaction support."""
    src = str(tmp_path / "fb_src")
    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    os.makedirs(src)
    _write_events(os.path.join(src, "a.parquet"), BATCH1)

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    def start():
        raw = spark.readStream.schema(EVENTS_PHYSICAL).parquet(src)
        ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return (
            ev.select("event_id", "ts", "user_id")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _write_events(os.path.join(src, "b.parquet"), BATCH2)
    q = start()  # restart from checkpoint — batch 1 must NOT be re-delivered
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == len(BATCH1) + len(BATCH2)
    assert got.select("event_id").distinct().count() == 5


def test_streaming_upsert_sink_merges_across_restart(spark, tmp_path):
    """foreachBatch MERGE sink (B20+B23): revisions streaming in are folded
    into a parquet target by event_id — later revisions replace earlier
    rows, new keys insert, and a checkpoint restart neither loses nor
    re-applies batches."""
    from dataselector_spark.streaming import upsert_sink

    src = str(tmp_path / "up_src")
    target = str(tmp_path / "up_target")
    ckpt = str(tmp_path / "up_ckpt")
    os.makedirs(src)

    def start():
        raw = spark.readStream.schema(EVENTS_PHYSICAL).parquet(src)
        ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return (
            ev.select("event_id", "ts", "user_id", "value")
            .writeStream.foreachBatch(upsert_sink(target, ["event_id"]))
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_events(os.path.join(src, "a.parquet"), BATCH1)  # ids 1,2,3 value=1.0
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Revisions: id 2 gets value 9.0, id 6 is brand new.
    _write_events(
        os.path.join(src, "b.parquet"),
        [(2, "2024-01-01 10:05:00", 1, "x", 9.0), (6, "2024-01-01 14:00:00", 2, "y", 5.0)],
    )
    q = start()  # restart from checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 1.0, 6: 5.0}

def test_upsert_sink_deterministic_within_batch_survivor(spark, tmp_path):
    """ADVICE 3: when a key recurs WITHIN one micro-batch, `order_by` picks a
    deterministic last-write-wins survivor (greatest ts), not an arbitrary
    dropDuplicates row."""
    from dataselector_spark.streaming import upsert_sink

    src = str(tmp_path / "det_src")
    target = str(tmp_path / "det_target")
    ckpt = str(tmp_path / "det_ckpt")
    os.makedirs(src)
    # Same event_id twice in ONE file → one micro-batch, conflicting values.
    _write_events(
        os.path.join(src, "a.parquet"),
        [
            (7, "2024-01-01 10:00:00", 1, "x", 1.0),
            (7, "2024-01-01 12:00:00", 1, "x", 42.0),
            (8, "2024-01-01 11:00:00", 2, "y", 3.0),
        ],
    )
    raw = spark.readStream.schema(EVENTS_PHYSICAL).parquet(src)
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    q = (
        ev.select("event_id", "ts", "user_id", "value")
        .writeStream.foreachBatch(upsert_sink(target, ["event_id"], order_by=["ts"]))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {7: 42.0, 8: 3.0}


def test_upsert_sink_recovers_from_mid_rename_crash(spark, tmp_path):
    """A crash between the two renames leaves state at <target>__old; the
    next batch must restore it instead of starting from nothing."""
    import shutil

    from dataselector_spark.streaming import upsert_sink

    target = str(tmp_path / "cr_target")
    sink = upsert_sink(target, ["event_id"])
    b1 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "event_id bigint, value double")
    sink(b1, 0)
    # Simulate the crash window: target renamed away, staging never moved in.
    shutil.move(target, target + "__old")
    b2 = spark.createDataFrame([(2, 9.0), (3, 3.0)], "event_id bigint, value double")
    sink(b2, 1)
    got = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 3.0}


def test_upsert_sink_recovers_from_post_rename_crash(spark, tmp_path):
    """A crash AFTER the staging rename but BEFORE the __old cleanup leaves
    BOTH target and <target>__old on disk; the next batch must discard the
    stale __old (target is the newer complete state) instead of failing the
    rename dance permanently (ADVICE r2, streaming/__init__.py)."""
    import os
    import shutil

    from dataselector_spark.streaming import upsert_sink

    target = str(tmp_path / "pr_target")
    sink = upsert_sink(target, ["event_id"])
    b1 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "event_id bigint, value double")
    sink(b1, 0)
    b2 = spark.createDataFrame([(2, 9.0)], "event_id bigint, value double")
    sink(b2, 1)
    # Simulate the crash window: __old (the pre-b2 state) was never removed.
    shutil.copytree(target, target + "__old")
    b3 = spark.createDataFrame([(3, 3.0)], "event_id bigint, value double")
    sink(b3, 2)  # must not raise, and must merge onto the NEWER state
    got = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 3.0}
    assert not os.path.isdir(target + "__old")


def test_end_to_end_streaming_corpus_ingest(spark, tmp_path):
    """The full production ingest path COMPOSED from the shipped pieces:
    file-source stream -> quality gate (sentinel + range filter) -> stateful
    dedup on event_id (duplicates arrive across batches) -> deterministic
    upsert into a parquet corpus target. Each stage is individually tested
    elsewhere; this pins that the composition streams end-to-end and the
    target converges to the clean, deduplicated, latest-revision state."""
    from dataselector_spark.streaming import upsert_sink

    src = str(tmp_path / "ing_src")
    target = str(tmp_path / "ing_target")
    ckpt = str(tmp_path / "ing_ckpt")
    os.makedirs(src)

    def start():
        raw = spark.readStream.schema(EVENTS_PHYSICAL).parquet(src)
        ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        clean = ev.filter(
            (F.col("value") != -999.99) & F.col("value").between(-1000, 1000)
        )
        # Dedup kills REDELIVERIES (same event_id AND event time); a
        # revision carries a new ts, passes dedup, and the upsert keeps the
        # latest revision per key.
        deduped = clean.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id", "ts"]
        )
        return (
            deduped.select("event_id", "ts", "user_id", "value")
            .writeStream.foreachBatch(upsert_sink(target, ["event_id"], order_by=["ts"]))
            .option("checkpointLocation", ckpt)
            .start()
        )

    # Batch 1: one good row, one sentinel (must be gated), one dup-to-come.
    _write_events(
        os.path.join(src, "a.parquet"),
        [
            (1, "2024-01-01 10:00:00", 1, "x", 5.0),
            (2, "2024-01-01 10:01:00", 1, "x", -999.99),
            (3, "2024-01-01 10:02:00", 2, "y", 7.0),
        ],
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Batch 2 after restart: an exact redelivery of 3 (dropped by stateful
    # dedup state surviving the checkpoint restart), a revision of 1 (new
    # ts -> passes dedup, upsert replaces), and a fresh row.
    _write_events(
        os.path.join(src, "b.parquet"),
        [
            (3, "2024-01-01 10:02:00", 2, "y", 7.0),
            (1, "2024-01-01 11:00:00", 1, "x", 6.0),
            (4, "2024-01-01 11:05:00", 3, "z", 1.0),
        ],
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 6.0, 3: 7.0, 4: 1.0}
    assert 2 not in got  # sentinel row gated out by the quality filter

def test_upsert_sink_exactly_once_under_midstream_crash(spark, tmp_path):
    """ADVICE r7 #6a: exactly-once sink semantics under a MID-STREAM crash —
    the worst-case failure window is after foreachBatch has fully PUBLISHED a
    batch but before Structured Streaming commits the checkpoint offset: work
    done, progress not recorded. On restart the engine replays that batch
    with the SAME batch_id and data; the merge-by-key sink must make the
    replay a no-op so the final state equals the no-crash oracle (effective
    exactly-once from at-least-once delivery + idempotent apply).

    Mechanics: three single-file micro-batches (maxFilesPerTrigger=1); a
    wrapper sink applies the real upsert_sink, then raises the FIRST time it
    finishes batch 1 — after publish, before commit. The stream dies with
    the injected error; a restart from the same checkpoint must replay batch
    1, continue through batch 2, and converge to the same per-key state."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dataselector_spark.streaming import upsert_sink

    src = str(tmp_path / "xo_src")
    target = str(tmp_path / "xo_target")
    ckpt = str(tmp_path / "xo_ckpt")
    marker = tmp_path / "crashed_once"
    os.makedirs(src)

    batches = [
        [(1, "2024-01-01 10:00:00", 1, "x", 1.0), (2, "2024-01-01 10:01:00", 1, "x", 2.0)],
        [(2, "2024-01-01 11:00:00", 1, "x", 9.0), (3, "2024-01-01 11:01:00", 2, "y", 3.0)],
        [(3, "2024-01-01 12:00:00", 2, "y", 7.0), (4, "2024-01-01 12:01:00", 3, "z", 4.0)],
    ]
    for i, rows in enumerate(batches):
        _write_events(os.path.join(src, f"b{i}.parquet"), rows)
        os.utime(
            os.path.join(src, f"b{i}.parquet"),
            (1_700_000_000 + i * 100, 1_700_000_000 + i * 100),
        )

    real = upsert_sink(target, ["event_id"], order_by=["ts"])

    def crash_after_publish(batch_df, batch_id):
        real(batch_df, batch_id)  # the batch is FULLY applied...
        if batch_id == 1 and not marker.exists():
            marker.write_text("injected")
            raise RuntimeError("injected crash: published but not committed")

    def start():
        raw = (
            spark.readStream.schema(EVENTS_PHYSICAL)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return (
            ev.select("event_id", "ts", "user_id", "value")
            .writeStream.foreachBatch(crash_after_publish)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    try:
        q.awaitTermination()
        raise AssertionError("stream should have died on the injected crash")
    except StreamingQueryException:
        pass
    assert marker.exists()  # batch 1 WAS published before the crash
    # State after the crash: batches 0 and 1 applied, batch 1 uncommitted.
    mid = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert mid == {1: 1.0, 2: 9.0, 3: 3.0}

    q = start()  # resume from the same checkpoint: replays batch 1, runs 2
    q.awaitTermination()
    got = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 7.0, 4: 4.0}


def test_python_stream_sink_failure_leaves_no_manifest(spark, tmp_path):
    """The manifest commit protocol's failure half: when a sink task
    throws, the batch must NOT publish a manifest — so the
    manifest-driven readback (b01_python_stream_sink's exactly-once
    contract) sees zero rows, even though some successful tasks may have
    already written orphan part files. (abort() can only delete files
    whose tasks RETURNED messages; crashed tasks' orphans survive on
    disk, which is exactly why readback trusts the manifest, not the
    directory listing.)"""
    import glob
    import json
    import os

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    out_dir = str(tmp_path / "failing_sink_out")
    os.makedirs(out_dir, exist_ok=True)

    class Msg(WriterCommitMessage):
        def __init__(self, path):
            self.path = path

    class FailingWriter(DataSourceStreamWriter):
        def write(self, iterator):
            import os as _os
            import uuid as _uuid

            from pyspark import TaskContext

            ctx = TaskContext.get()
            rows = list(iterator)
            path = _os.path.join(
                out_dir, f"part-{ctx.partitionId()}-{_uuid.uuid4().hex}.jsonl"
            )
            with open(path, "w") as f:
                for r in rows:
                    f.write(f"{r[0]}\n")
            if rows and min(r[0] for r in rows) == 0:
                raise RuntimeError("planted task failure after orphan write")
            return Msg(path)

        def commit(self, messages, batchId):
            import json as _json
            import os as _os

            manifest = _os.path.join(out_dir, f"manifest-{batchId}.json")
            with open(manifest, "w") as f:
                _json.dump([m.path for m in messages if m is not None], f)

        def abort(self, messages, batchId):
            pass

    class FailingSink(DataSource):
        @classmethod
        def name(cls):
            return "dsspark_failing_sink"

        def streamWriter(self, schema, overwrite):
            return FailingWriter()

    spark.dataSource.register(FailingSink)
    src = str(tmp_path / "src")
    spark.range(0, 64, 1, 8).write.parquet(src)
    q = (
        spark.readStream.schema("id bigint")
        .parquet(src)
        .writeStream.format("dsspark_failing_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # some tasks may have left orphan part files...
    assert glob.glob(os.path.join(out_dir, "part-*.jsonl"))
    # ...but no manifest was published, so the committed view is EMPTY
    # (ADVICE r10: the old second assert rebuilt `committed` from the
    # already-asserted-empty manifest list — dead by construction)
    manifests = glob.glob(os.path.join(out_dir, "manifest-*.json"))
    assert manifests == []


# Frozen bench-set membership, v1-v12: (size, sha256 of the member names
# joined by newlines, in order, first 16 hex digits). BENCH_RECORDS.json
# compares these exact sets round over round, so any edit to an existing
# set's members or order must fail here; a new set adds a line.
_FROZEN_SET_DIGESTS = {
    "v1": (31, "84a5a6d09a0bcadd"),
    "v2": (6, "7cf5b2665ecbe144"),
    "v3": (17, "29a1f15919e5edec"),
    "v4": (14, "b61a0fa52cae55c2"),
    "v5": (40, "996cd84405d975ed"),
    "v6": (8, "617d7c7cea6bd812"),
    "v7": (5, "30d47f8ada7f104e"),
    "v8": (6, "b67640f381f848ab"),
    "v9": (6, "31fe35ccff68d878"),
    "v10": (3, "dc1bdcced11c884b"),
    "v11": (1, "f52d4f8551839ac5"),
    "v12": (3, "bd6b4f86af1d1bf2"),
}


def test_bench_sets_name_real_suite_entries():
    """Every frozen bench set member must be a registered suite entry —
    a typo'd name in a new set would otherwise only surface as a KeyError
    halfway through the driver's per-round bench run — and every frozen
    set keeps its exact members in order."""
    import hashlib
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import SETS

    from dataselector_spark.suite import QUERIES

    for key, names in SETS.items():
        missing = [n for n in names if n not in QUERIES]
        assert not missing, (key, missing)
        assert len(set(names)) == len(names), (key, "duplicate names")

    assert list(SETS)[: len(_FROZEN_SET_DIGESTS)] == list(_FROZEN_SET_DIGESTS)
    for key, (size, digest) in _FROZEN_SET_DIGESTS.items():
        got = hashlib.sha256("\n".join(SETS[key]).encode()).hexdigest()[:16]
        assert (len(SETS[key]), got) == (size, digest), (
            f"frozen bench set {key} changed; BENCH_RECORDS.json compares "
            "its exact members — add a new set instead of editing this one"
        )


def test_python_stream_sink_entry_cleans_up_tmp(spark):
    """ADVICE r10: b01_python_stream_sink must not accumulate /tmp state
    across invocations — the JSONL copy + checkpoint dir are removed once
    the readback aggregate is materialized, and the returned DataFrame
    must survive the cleanup (it is an in-memory localRelation, not a
    lazy scan of the deleted files)."""
    import glob as g

    from dataselector_spark.suite import QUERIES

    before = set(g.glob("/tmp/dsspark_pysink_*"))
    df = QUERIES["b01_python_stream_sink"].fn(spark, "/root/testdata/sf0.001")
    assert set(g.glob("/tmp/dsspark_pysink_*")) == before
    rows = df.collect()  # collectable AFTER the files are gone
    assert rows and all(r["n"] > 0 for r in rows)
