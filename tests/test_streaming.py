"""Streaming semantics tests (SURVEY §5 item 3): file source +
availableNow trigger + memory sink; stateful last-K across micro-batches;
watermark drops; checkpoint-restart idempotence."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_data_pipeline_capstone_spark.sources.replay import (
    replay_to_files,
    stream_from_replay,
)
from streaming_data_pipeline_capstone_spark.streaming.sinks import for_each_batch, to_memory
from streaming_data_pipeline_capstone_spark.streaming.state import (
    gap_fill_stream,
    last_k_per_key_stream,
)


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="sdpc-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events_df(spark, rows):
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _t(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


def test_last_k_state_across_batches(spark, tmpdir):
    """5 events per key over 5 micro-batches → state holds exactly the 3
    most recent; verifies executor-side state survives across batches."""
    rows = [(1, _t(m), float(m)) for m in range(5)] + [(2, _t(m), 10.0 + m) for m in range(5)]
    df = _events_df(spark, rows)
    schema = replay_to_files(df, f"{tmpdir}/replay", num_chunks=5, order_col="ts")
    stream = stream_from_replay(spark, f"{tmpdir}/replay", schema)

    out = last_k_per_key_stream(stream, key="user_id", ts_col="ts", value_cols=["value"], k=3)
    q = to_memory(out, "last3_state", output_mode="update")
    q.awaitTermination(120)

    final = (
        spark.table("last3_state")
        .groupBy("user_id", "ts", "value")
        .agg(F.min("rn").alias("rn"))  # updates accumulate in memory sink; latest wins
    )
    # reconstruct the final state: rows present with rn from the LAST update
    latest = final.filter(F.col("ts") >= _t(2)).collect()
    per_key = {}
    for r in latest:
        per_key.setdefault(r.user_id, []).append((r.ts, r.value))
    assert {u: sorted(v) for u, v in per_key.items()} == {
        1: [(_t(2), 2.0), (_t(3), 3.0), (_t(4), 4.0)],
        2: [(_t(2), 12.0), (_t(3), 13.0), (_t(4), 14.0)],
    }


def _write_chunks(spark, path, chunks):
    """One parquet file per chunk, mtimes ascending: chunk i is micro-batch
    i of ``stream_from_replay``, rows inside a chunk in the given order."""
    import os

    for i, rows in enumerate(chunks):
        _events_df(spark, rows).coalesce(1).write.parquet(f"{path}/chunk={i:05d}")
    base = int(os.stat(path).st_mtime)
    for i in range(len(chunks)):
        cdir = f"{path}/chunk={i:05d}"
        for fname in os.listdir(cdir):
            os.utime(f"{cdir}/{fname}", (base + i, base + i))
    return _events_df(spark, [r for rows in chunks for r in rows])


def test_last_k_state_disorder_matches_batch_twin(spark, tmpdir):
    """Disorder inside and across micro-batches. Batch 0: rows out of
    order per key, and a timestamp tie at the K boundary (broken by
    value). Batch 1: an older row for key 1 after three newer ones is
    ignored; key 3 is absent and not re-emitted. Batch 2: a row lands
    between key 1's ranks and reorders ``rn``. The last emission per key
    equals the batch twin ``last_k_per_key`` over all rows."""
    from streaming_data_pipeline_capstone_spark.operators.windows import last_k_per_key

    chunks = [
        [
            (1, _t(5), 5.0), (2, _t(0), 20.0), (1, _t(1), 1.0), (3, _t(4), 31.0),
            (1, _t(3), 3.0), (3, _t(4), 32.0), (3, _t(5), 30.0), (1, _t(2), 2.0),
            (3, _t(4), 33.0),
        ],
        [(2, _t(7), 27.0), (1, _t(0), 0.0), (2, _t(6), 26.0)],
        [(1, _t(4), 4.0)],
    ]
    all_rows = _write_chunks(spark, f"{tmpdir}/replay", chunks)
    stream = stream_from_replay(spark, f"{tmpdir}/replay", all_rows.schema)

    emitted: dict[int, dict[int, list]] = {}

    def sink(batch, epoch_id):
        per_key: dict[int, list] = {}
        for r in sorted(batch.collect(), key=lambda r: (r.user_id, r.rn)):
            per_key.setdefault(r.user_id, []).append((r.ts, r.value, r.rn))
        emitted[epoch_id] = per_key

    out = last_k_per_key_stream(stream, key="user_id", ts_col="ts", value_cols=["value"], k=3)
    for_each_batch(out, sink, f"{tmpdir}/ckpt", available_now=True).awaitTermination(120)

    assert sorted(emitted) == [0, 1, 2]
    assert {e: sorted(keys) for e, keys in emitted.items()} == {0: [1, 2, 3], 1: [1, 2], 2: [1]}
    key1 = [(_t(5), 5.0, 1), (_t(3), 3.0, 2), (_t(2), 2.0, 3)]
    assert emitted[0][1] == key1 and emitted[1][1] == key1  # t0 arrived too old
    assert emitted[0][3] == [(_t(5), 30.0, 1), (_t(4), 33.0, 2), (_t(4), 32.0, 3)]
    assert emitted[2][1] == [(_t(5), 5.0, 1), (_t(4), 4.0, 2), (_t(3), 3.0, 3)]

    final = {}
    for epoch in sorted(emitted):
        final.update(emitted[epoch])
    twin: dict[int, list] = {}
    rows = last_k_per_key(all_rows, key="user_id", order_col="ts", k=3, tiebreak="value")
    for r in sorted(rows.collect(), key=lambda r: (r.user_id, r.rn)):
        twin.setdefault(r.user_id, []).append((r.ts, r.value, r.rn))
    assert final == twin


def test_recent_positions_plan_is_one_jvm_state_store(spark, tmpdir):
    """Entry C's micro-batch plan keeps its state in one JVM stateful
    aggregate: exactly one StateStoreSave, and no Python exec anywhere
    (no FlatMapGroupsInPandasWithState, pandas or Python UDF node)."""
    import json
    import os

    from streaming_data_pipeline_capstone_spark.plans.predict import recent_positions_stream
    from streaming_data_pipeline_capstone_spark.plans.preprocess import preprocess_from_envelope
    from streaming_data_pipeline_capstone_spark.schemas import AIS_WIRE_SCHEMA

    fields = [f.name for f in AIS_WIRE_SCHEMA.fields]
    msg = dict(zip(fields, (
        "2021-04-05 10:00:00Z", 229906000, "POINT(110.5 15.25)", 0.0,
        10.0, 90.0, 1, "src", 1, 0, 0, "V", "Cargo", 30, 90.0, 2.0, 0,
    ), strict=True))
    os.makedirs(f"{tmpdir}/in")
    with open(f"{tmpdir}/in/part.txt", "w") as fh:
        fh.write(json.dumps(msg) + "\n")
    stream = spark.readStream.format("text").load(f"{tmpdir}/in")
    q = to_memory(
        recent_positions_stream(preprocess_from_envelope(stream)),
        "recent_positions_plan",
        output_mode="update",
        available_now=True,
    )
    try:
        q.awaitTermination(120)
        assert spark.table("recent_positions_plan").count() == 1
        nodes, todo = [], [q._jsq.streamingQuery().lastExecution().executedPlan()]
        while todo:
            node = todo.pop()
            nodes.append((node.nodeName(), node.getClass().getName()))
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    finally:
        q.stop()
    assert [n for n, _ in nodes].count("StateStoreSave") == 1, nodes
    python = [n for n, cls in nodes if ".execution.python." in cls or "Python" in n]
    assert python == [], python


def test_gap_fill_stream_interpolates(spark, tmpdir):
    """Gap of 5 min with 60 s step → 4 synthetic points, linearly blended,
    flagged is_interpolated=1; state carries across micro-batches."""
    rows = [
        (1, _t(0), 0.0),
        (1, _t(5), 10.0),  # arrives in a later batch → gap spans batches
    ]
    df = _events_df(spark, rows)
    schema = replay_to_files(df, f"{tmpdir}/replay", num_chunks=2, order_col="ts")
    stream = stream_from_replay(spark, f"{tmpdir}/replay", schema)

    out = gap_fill_stream(stream, key="user_id", ts_col="ts", value_col="value",
                          gap_seconds=60, step_seconds=60)
    q = to_memory(out, "gapfill_out", output_mode="append")
    q.awaitTermination(120)

    got = sorted(
        (r.ts, r.value, r.is_interpolated) for r in spark.table("gapfill_out").collect()
    )
    expected = [
        (_t(0), 0.0, 0),
        (_t(1), 2.0, 1),
        (_t(2), 4.0, 1),
        (_t(3), 6.0, 1),
        (_t(4), 8.0, 1),
        (_t(5), 10.0, 0),
    ]
    assert got == expected


def test_watermark_drops_late_events(spark, tmpdir):
    """Windowed agg with 2-min watermark across a restart: run 1 closes
    window 10:00 (watermark → 10:08); run 2 delivers a 9-min-late event,
    which must be dropped — the closed window's output never changes."""

    def run(stream):
        agg = (
            stream.withWatermark("ts", "2 minutes")
            .groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
            .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "user_id", "total", "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{tmpdir}/out")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch1 = [(1, _t(0, 10), 1.0), (1, _t(0, 50), 3.0), (1, _t(10), 100.0)]
    schema = replay_to_files(_events_df(spark, batch1), f"{tmpdir}/replay", num_chunks=1)
    run(stream_from_replay(spark, f"{tmpdir}/replay", schema))
    out1 = {r.ws: (r.total, r.n) for r in spark.read.parquet(f"{tmpdir}/out").collect()}
    assert out1[_t(0)] == (4.0, 2)  # window closed with the on-time events

    # 9-min-late event arrives after restart; watermark (10:08) from the
    # checkpoint must reject it
    _events_df(spark, [(1, _t(0, 30), 5.0)]).coalesce(1).write.mode("overwrite").parquet(
        f"{tmpdir}/replay/chunk=00001"
    )
    run(stream_from_replay(spark, f"{tmpdir}/replay", schema))
    out2 = {r.ws: (r.total, r.n) for r in spark.read.parquet(f"{tmpdir}/out").collect()}
    assert out2[_t(0)] == (4.0, 2)  # unchanged — late event dropped


def test_checkpoint_restart_resumes(spark, tmpdir):
    """Stop after batch 1, add data, restart with same checkpoint → second
    run processes ONLY the new file (exactly-once bookkeeping, T2)."""
    df1 = _events_df(spark, [(1, _t(0), 1.0)])
    schema = replay_to_files(df1, f"{tmpdir}/replay", num_chunks=1)
    stream = stream_from_replay(spark, f"{tmpdir}/replay", schema)
    sink_path, ckpt = f"{tmpdir}/out", f"{tmpdir}/ckpt"

    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink_path).count() == 1

    _events_df(spark, [(1, _t(1), 2.0)]).coalesce(1).write.mode("overwrite").parquet(
        f"{tmpdir}/replay/chunk=00001"
    )
    stream2 = stream_from_replay(spark, f"{tmpdir}/replay", schema)
    q2 = (
        stream2.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    out = spark.read.parquet(sink_path)
    assert out.count() == 2  # no reprocessing of chunk 0
    assert sorted(r.value for r in out.collect()) == [1.0, 2.0]


def test_streaming_preprocess_parity(spark, tmpdir):
    """The preprocess plan runs unchanged on a stream and matches its own
    batch output (T8 pipeline composition, batch/stream parity)."""
    import json

    from streaming_data_pipeline_capstone_spark.plans.preprocess import (
        preprocess_from_envelope,
    )
    from streaming_data_pipeline_capstone_spark.schemas import AIS_WIRE_SCHEMA

    fields = [f.name for f in AIS_WIRE_SCHEMA.fields]
    msgs = [
        dict(zip(fields, (
            f"2021-04-05 10:0{i}:00Z", 229906000 + i, f"POINT(110.{i} 15.25)", 0.0,
            10.0 + i, 90.0, 1, "src", 1, 0, 0, "V", "Cargo", 30, 90.0, 2.0, 0,
        ), strict=True))
        for i in range(4)
    ]
    env = spark.createDataFrame([(json.dumps(m),) for m in msgs], "value string")
    schema = replay_to_files(env, f"{tmpdir}/replay", num_chunks=2)
    stream = stream_from_replay(spark, f"{tmpdir}/replay", schema)

    q = to_memory(preprocess_from_envelope(stream), "pp_stream", output_mode="append")
    q.awaitTermination(120)

    stream_rows = sorted(
        (r.mmsi, r.longitude) for r in spark.table("pp_stream").collect()
    )
    batch_rows = sorted(
        (r.mmsi, r.longitude) for r in preprocess_from_envelope(env).collect()
    )
    assert stream_rows == batch_rows and len(stream_rows) == 4


def test_stream_static_join_enriches(spark, tmpdir):
    """J2: stream-static enrichment — the reference's seed-frame union
    (predict_path.py:47-53) done the native way: a static dimension joined
    into the stream; Spark re-plans the join per micro-batch."""
    rows = [
        (1, _t(0), 5.0),
        (2, _t(1), 7.0),
        (3, _t(2), 9.0),  # no dim row → left join keeps it with nulls
    ]
    schema = replay_to_files(_events_df(spark, rows), tmpdir + "/replay", 2, order_col="ts")
    stream = stream_from_replay(spark, tmpdir + "/replay", schema)

    dim = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (4, "unused")], "user_id long, label string"
    )
    enriched = stream.join(dim, "user_id", "left")
    out = to_memory(enriched, "enriched", available_now=True)
    out.awaitTermination()

    got = {
        r["user_id"]: r["label"]
        for r in spark.table("enriched").collect()
    }
    assert got == {1: "alpha", 2: "beta", 3: None}


def test_last_k_state_on_rocksdb_provider(spark, tmpdir):
    """T5 on the RocksDB state store (the 100 TB provider: incremental
    checkpoints, state off-heap) — same semantics as the default provider."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = [(1, _t(m), float(m)) for m in range(6)] + [(2, _t(0), 1.0)]
        schema = replay_to_files(_events_df(spark, rows), tmpdir + "/replay", 3, order_col="ts")
        stream = stream_from_replay(spark, tmpdir + "/replay", schema)
        out = last_k_per_key_stream(
            stream, key="user_id", ts_col="ts", value_cols=["value"], k=3
        )
        q = to_memory(out, "rocksdb_state_t", output_mode="update", available_now=True)
        q.awaitTermination()
        final = {
            (r["user_id"], r["rn"]): r["value"]
            for r in spark.table("rocksdb_state_t").collect()
            if r["user_id"] == 1 and r["value"] >= 3.0 or r["user_id"] == 2
        }
        # last emission for key 1 holds the 3 most recent values 5,4,3
        assert final[(1, 1)] == 5.0 and final[(1, 2)] == 4.0 and final[(1, 3)] == 3.0
        assert final[(2, 1)] == 1.0
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stateful_restart_carries_state(spark, tmpdir):
    """Keyed last-K state across a stop/restart: run 1 sees 2 events,
    run 2 (same checkpoint) delivers 1 more — the final top-3 must include
    run-1 events, proving keyed state was restored from the state store."""
    rows1 = [(1, _t(0), 0.0), (1, _t(1), 1.0)]
    schema = replay_to_files(_events_df(spark, rows1), tmpdir + "/replay", 1)

    def run(out_dir):
        stream = stream_from_replay(spark, tmpdir + "/replay", schema)
        out = last_k_per_key_stream(
            stream, key="user_id", ts_col="ts", value_cols=["value"], k=3
        )

        def sink(batch, epoch_id):
            batch.write.mode("append").parquet(out_dir)

        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", tmpdir + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(tmpdir + "/out1")
    # second run: one new chunk with one newer event
    _events_df(spark, [(1, _t(2), 2.0)]).coalesce(1).write.mode("overwrite").parquet(
        tmpdir + "/replay/chunk=00001"
    )
    run(tmpdir + "/out2")

    # run 2 processed ONLY the new chunk, so its update output can contain
    # t0/t1 only if their state was restored from the checkpointed store
    got = {
        (r["ts"], r["value"]): r["rn"]
        for r in spark.read.parquet(tmpdir + "/out2").collect()
    }
    assert got == {(_t(2), 2.0): 1, (_t(1), 1.0): 2, (_t(0), 0.0): 3}


def test_checkpoints_use_filesystem_rename_and_no_crc_side_files(spark, tmpdir):
    """The session renames checkpoint files through ``FileSystem.rename``
    (no ``readlink`` fork per rename) and writes no hidden
    ``.<name>.crc`` side file (and its ``chmod`` fork) per local file. A
    stateful availableNow query leaves offsets, commits and state files,
    Spark's own state checksums (``<name>.crc``), and no Hadoop side file
    anywhere under the run's dir (replay, checkpoint, sink). The local
    filesystem stays a ``LocalFileSystem``, so ``FileSystem.getLocal`` (the
    RocksDB state store's commit path) still works."""
    import os

    jvm = spark.sparkContext._jvm
    schema = replay_to_files(
        _events_df(spark, [(1, _t(0), 1.0), (2, _t(1), 2.0), (1, _t(2), 3.0)]),
        f"{tmpdir}/replay", num_chunks=2, order_col="ts",
    )
    counts = stream_from_replay(spark, f"{tmpdir}/replay", schema).groupBy("user_id").count()

    def sink(batch, epoch_id):
        batch.write.mode("append").parquet(f"{tmpdir}/out")

    for_each_batch(counts, sink, f"{tmpdir}/ckpt", available_now=True).awaitTermination(120)
    got = spark.read.parquet(f"{tmpdir}/out").groupBy("user_id").agg(F.max("count"))
    assert sorted(tuple(r) for r in got.collect()) == [(1, 2), (2, 1)]

    files = {
        sub: [f for _, _, fs in os.walk(f"{tmpdir}/ckpt/{sub}") for f in fs]
        for sub in ("offsets", "commits", "state")
    }
    assert all(files.values()), files
    crc = [f for _, _, fs in os.walk(tmpdir) for f in fs if f.endswith(".crc")]
    assert [f for f in crc if f.startswith(".")] == []
    assert any(f.endswith(".delta.crc") for f in crc), crc

    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(f"{tmpdir}/ckpt")
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    assert (
        manager.create(path, hconf).getClass().getSimpleName()
        == "FileSystemBasedCheckpointFileManager"
    )
    local = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    assert jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem").isInstance(local)


def _ais_envelopes(spark):
    """AIS wire envelopes for 3 vessels reporting every 30 s from 10:00 to
    10:19:30, in event-time order (``seq``), every row kept by preprocess."""
    from streaming_data_pipeline_capstone_spark.schemas import AIS_WIRE_SCHEMA

    rows = []
    for step in range(40):
        ts = dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(seconds=step * 30)
        for v in range(3):
            rows.append((
                len(rows), ts.strftime("%Y-%m-%d %H:%M:%SZ"), 229906000 + v,
                f"POINT({110 + v + step / 100} {15 + step / 100})", 0.0,
                float(step % 7 + v), float(step * 9 % 360), 1, "src", 1, 0, 0,
                "VESSEL", "Cargo", 30, 90.0, float(step % 5 - 2), 0,
            ))
    schema = T.StructType([T.StructField("seq", T.LongType()), *AIS_WIRE_SCHEMA.fields])
    wire = spark.createDataFrame(rows, schema)
    # the envelope of schemas.encode_json_envelope, with ``seq`` beside it
    value = F.to_json(F.struct(*AIS_WIRE_SCHEMA.fieldNames()))
    return wire.select(value.alias("value"), "seq")


def test_entry_b_restart_appends_each_window_once(spark, tmpdir):
    """Entry point B (``preprocess_from_envelope`` -> ``kinematic_aggs`` ->
    ``to_files``) stopped after chunks 0-1 and restarted on the same
    checkpoint after chunks 2-3 arrive. Windows open at the stop straddle
    the chunk boundary, so their rows come from both runs and only the
    restored state store can sum them. The sink holds each (window, mmsi)
    once and equals batch ``kinematic_aggs`` over every window the final
    watermark closed."""
    import os

    from streaming_data_pipeline_capstone_spark.plans.preprocess import (
        kinematic_aggs,
        preprocess_from_envelope,
    )
    from streaming_data_pipeline_capstone_spark.streaming.sinks import to_files

    envelopes = _ais_envelopes(spark)
    staging, replay = f"{tmpdir}/staging", f"{tmpdir}/replay"
    schema = replay_to_files(envelopes, staging, num_chunks=4, order_col="seq")
    os.makedirs(replay)
    out, ckpt = f"{tmpdir}/out", f"{tmpdir}/ckpt"

    def run(chunks):
        for k in chunks:  # a rename keeps the re-stamped chunk mtimes
            os.rename(f"{staging}/chunk={k:05d}", f"{replay}/chunk={k:05d}")
        processed = preprocess_from_envelope(stream_from_replay(spark, replay, schema))
        q = to_files(kinematic_aggs(processed, watermark="5 minutes"), out, ckpt, available_now=True)
        q.awaitTermination(120)
        return q

    run([0, 1])
    emitted_first = spark.read.parquet(out).count()
    last = run([2, 3])

    got = spark.read.parquet(out)
    key = ["window", "mmsi"]
    assert got.count() == got.select(*key).distinct().count()
    assert 0 < emitted_first < got.count()

    final_wm = F.lit(last.lastProgress["eventTime"]["watermark"]).cast("timestamp")
    twin = kinematic_aggs(preprocess_from_envelope(envelopes)).filter(
        F.col("window.end") <= final_wm
    )
    cols = got.columns

    def rows(df):
        return sorted(
            (r.window.start, r.mmsi, *(round(r[c], 9) for c in cols if c not in key))
            for r in df.select(*cols).collect()
        )

    assert rows(got) == rows(twin)


def test_stream_stream_interval_join_matches_batch(spark, tmpdir):
    """Two watermarked streams joined on key + event-time interval must
    produce exactly the rows the equivalent batch join produces —
    including matches whose two sides arrive in DIFFERENT micro-batches
    (the buffered-state path)."""
    from streaming_data_pipeline_capstone_spark.streaming.stream_joins import (
        stream_stream_interval_join,
    )

    # left: "pings"; right: "commands" within ±2 minutes should match
    left_rows = [(1, _t(0), 1.0), (1, _t(10), 2.0), (2, _t(5), 3.0)]
    right_rows = [
        (1, _t(1), 100.0),   # matches ping @0 (lag 1m)
        (1, _t(9), 101.0),   # matches ping @10 (lead 1m)
        (1, _t(5), 102.0),   # matches nothing (3m+ from both pings)
        (2, _t(6), 103.0),   # matches ping @5
        (3, _t(0), 104.0),   # no key match
    ]
    ldf, rdf = _events_df(spark, left_rows), _events_df(spark, right_rows)
    ls = replay_to_files(ldf, f"{tmpdir}/l", num_chunks=2, order_col="ts")
    rs = replay_to_files(rdf, f"{tmpdir}/r", num_chunks=2, order_col="ts")
    lstream = stream_from_replay(spark, f"{tmpdir}/l", ls).withColumnsRenamed(
        {"ts": "lts", "value": "lval"}
    )
    rstream = stream_from_replay(spark, f"{tmpdir}/r", rs).withColumnsRenamed(
        {"ts": "rts", "value": "rval"}
    )

    joined = stream_stream_interval_join(
        lstream, rstream, key="user_id", left_ts="lts", right_ts="rts",
        max_lag="2 minutes", watermark="10 minutes",
    ).select("l.user_id", "lval", "rval")
    q = to_memory(joined, "ssj", output_mode="append")
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["lval"], r["rval"])
        for r in spark.table("ssj").collect()
    }
    assert got == {(1, 1.0, 100.0), (1, 2.0, 101.0), (2, 3.0, 103.0)}

    # batch equivalence: same condition on the static frames
    lb = ldf.withColumnsRenamed({"ts": "lts", "value": "lval"})
    rb = rdf.withColumnsRenamed({"ts": "rts", "value": "rval"})
    batch = lb.alias("l").join(
        rb.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("rts") >= F.expr("lts - INTERVAL 2 minutes"))
        & (F.col("rts") <= F.expr("lts + INTERVAL 2 minutes")),
    )
    batch_set = {
        (r["user_id"], r["lval"], r["rval"])
        for r in batch.select("l.user_id", "lval", "rval").collect()
    }
    assert got == batch_set


def test_streaming_dedup_matches_across_batches(spark, tmpdir):
    """Incremental near-dedup: a batch-2 document must match its batch-1
    near-duplicate via the persistent band index (cross-batch pair), and
    same-batch pairs are found too."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        streaming_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (100, base),
        (101, base + " extra"),            # near-dup of 100, same batch
        (150, "completely different words about maritime vessel tracking"),
        (200, base + " tail"),             # near-dup of 100/101, NEXT batch
        (250, "unrelated content entirely separate from everything else"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    schema = replay_to_files(df, tmpdir + "/replay", 2, order_col="doc_id")
    stream = stream_from_replay(spark, tmpdir + "/replay", schema)

    q = streaming_minhash_dedup(
        stream,
        index_dir=tmpdir + "/index",
        pairs_dir=tmpdir + "/pairs",
        checkpoint_dir=tmpdir + "/ckpt",
        threshold=0.5,
    )
    q.awaitTermination(180)

    pairs = {
        (r["doc1"], r["doc2"])
        for r in spark.read.parquet(tmpdir + "/pairs").collect()
    }
    assert (100, 101) in pairs            # within batch 1
    assert (100, 200) in pairs or (101, 200) in pairs  # across batches
    assert all(150 not in p and 250 not in p for p in pairs)


def test_streaming_dedup_duplicate_heavy_stream(spark, tmpdir):
    """Crawl-replay shape: dozens of identical copies of one page per
    micro-batch. The default in-batch pre-dedup must collapse them to one
    representative — no quadratic identical-pair output, no hot LSH
    bucket — while near-dup and cross-batch rep-to-rep pairs still land."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        streaming_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = (
        [(i, base) for i in range(100, 130)]        # 30 identical copies
        + [(140, base + " extra"),                  # true near-dup
           (150, "completely different words about maritime vessel tracking")]
        + [(i, base) for i in range(200, 230)]      # 30 MORE copies, next batch
        + [(250, "unrelated content entirely separate from everything else")]
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    schema = replay_to_files(df, tmpdir + "/replay", 2, order_col="doc_id")
    stream = stream_from_replay(spark, tmpdir + "/replay", schema)

    q = streaming_minhash_dedup(
        stream,
        index_dir=tmpdir + "/index",
        pairs_dir=tmpdir + "/pairs",
        checkpoint_dir=tmpdir + "/ckpt",
        threshold=0.5,
    )
    q.awaitTermination(180)

    pairs = {
        (r["doc1"], r["doc2"])
        for r in spark.read.parquet(tmpdir + "/pairs").collect()
    }
    collapsed = set(range(101, 130)) | set(range(201, 230))
    assert not any(a in collapsed or b in collapsed for a, b in pairs), (
        "collapsed copies must never reach the pair output"
    )
    # without the collapse this stream emits >1,300 pairs (30·29/2 within
    # each batch + 30·30 across); with it, only representative-level pairs
    assert len(pairs) <= 6, f"quadratic identical-pair output: {len(pairs)} pairs"
    assert (100, 140) in pairs            # near-dup survives, batch 1
    assert (100, 200) in pairs            # cross-batch rep-to-rep (jaccard 1.0)


def test_exact_dedup_stream_suppresses_redelivery(spark, tmpdir):
    """dropDuplicatesWithinWatermark path: re-deliveries of the same key
    in LATER micro-batches (within the watermark horizon) are suppressed;
    distinct keys all pass; state is watermark-evictable by construction."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        exact_dedup_stream,
    )

    rows = [
        (1, _t(0), 1.0),
        (2, _t(1), 2.0),
        (1, _t(2), 99.0),   # re-delivery of key 1, later micro-batch
        (3, _t(3), 3.0),
        (2, _t(4), 98.0),   # re-delivery of key 2
    ]
    df = _events_df(spark, rows)
    schema = replay_to_files(df, f"{tmpdir}/replay", num_chunks=5, order_col="ts")
    stream = stream_from_replay(spark, f"{tmpdir}/replay", schema)

    out = exact_dedup_stream(stream, keys=["user_id"], ts_col="ts")
    q = to_memory(out, "exact_dedup", output_mode="append")
    q.awaitTermination(120)

    got = {(r["user_id"], r["value"]) for r in spark.table("exact_dedup").collect()}
    assert got == {(1, 1.0), (2, 2.0), (3, 3.0)}


def test_dedup_index_compaction_preserves_results(spark, tmpdir):
    """Compacting the band/shingle index must not change future matches."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        _merge_batch,
        compact_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame([(1, base), (2, "unrelated text entirely")], "doc_id long, text string")
    _merge_batch(b1, 0, tmpdir + "/idx", tmpdir + "/pairs", "doc_id", "text", 0.5, 12, 4)

    compact_index(spark, tmpdir + "/idx", partitions_per_table=2)

    b2 = spark.createDataFrame([(3, base + " omega")], "doc_id long, text string")
    _merge_batch(b2, 1, tmpdir + "/idx", tmpdir + "/pairs", "doc_id", "text", 0.5, 12, 4)

    pairs = {
        (r["doc1"], r["doc2"]) for r in spark.read.parquet(tmpdir + "/pairs").collect()
    }
    assert (1, 3) in pairs  # match found through the COMPACTED index


def test_streaming_similarity_cross_batch(spark, tmpdir):
    """A batch-2 vector must be flagged against its batch-1 near-neighbor
    through the persistent signature index."""
    from streaming_data_pipeline_capstone_spark.streaming.similarity_stream import (
        streaming_similarity_index,
    )

    dim = 8
    base = [1.0, 0.5, -0.2, 0.8, 0.1, -0.4, 0.9, 0.3]
    near = [x + 0.01 for x in base]
    far = [-x for x in base]
    rows = [(1, base), (2, far), (3, near), (4, [0.0] * 7 + [1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    schema = replay_to_files(df, tmpdir + "/replay", 2, order_col="vec_id")
    stream = stream_from_replay(spark, tmpdir + "/replay", schema)

    q = streaming_similarity_index(
        stream,
        index_dir=tmpdir + "/index",
        pairs_dir=tmpdir + "/pairs",
        checkpoint_dir=tmpdir + "/ckpt",
        threshold=0.9,
        num_planes=4,
        dim=dim,
    )
    q.awaitTermination(180)

    pairs = {
        (r["id1"], r["id2"]): r["cosine_sim"]
        for r in spark.read.parquet(tmpdir + "/pairs").collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.99  # cross-batch neighbor
    assert all(2 not in p for p in pairs)  # opposite vector excluded


def test_streaming_dedup_replay_idempotent(spark, tmpdir):
    """foreachBatch is at-least-once: re-running the SAME epoch (crash
    between sink write and checkpoint commit) must overwrite its own
    epoch partition, never re-append — index and pairs row counts are
    unchanged after the replay, and a genuinely new epoch still lands."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import _merge_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(1, base), (2, base + " tail")], "doc_id long, text string"
    )
    args = (tmpdir + "/idx", tmpdir + "/pairs", "doc_id", "text", 0.5, 12, 4)
    _merge_batch(b1, 0, *args)
    first_pairs = sorted(
        (r["doc1"], r["doc2"]) for r in spark.read.parquet(tmpdir + "/pairs").collect()
    )
    first_bands = spark.read.parquet(tmpdir + "/idx/bands").count()
    first_sets = spark.read.parquet(tmpdir + "/idx/sets").count()

    _merge_batch(b1, 0, *args)  # the replay
    assert sorted(
        (r["doc1"], r["doc2"]) for r in spark.read.parquet(tmpdir + "/pairs").collect()
    ) == first_pairs
    assert spark.read.parquet(tmpdir + "/idx/bands").count() == first_bands
    assert spark.read.parquet(tmpdir + "/idx/sets").count() == first_sets

    b2 = spark.createDataFrame([(3, base + " omega")], "doc_id long, text string")
    _merge_batch(b2, 1, *args)  # a new epoch appends as before
    pairs = {
        (r["doc1"], r["doc2"]) for r in spark.read.parquet(tmpdir + "/pairs").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs


def test_streaming_similarity_replay_idempotent(spark, tmpdir):
    """Same at-least-once contract for the vector index."""
    from streaming_data_pipeline_capstone_spark.streaming.similarity_stream import _merge_batch

    base = [1.0, 0.5, -0.2, 0.8, 0.1, -0.4, 0.9, 0.3]
    near = [x + 0.01 for x in base]
    b1 = spark.createDataFrame(
        [(1, base), (2, near)], "vec_id long, embedding array<float>"
    )
    args = (tmpdir + "/idx", tmpdir + "/pairs", "vec_id", "embedding", 0.9, 4, 8)
    _merge_batch(b1, 0, *args)
    first_pairs = sorted(
        (r["id1"], r["id2"]) for r in spark.read.parquet(tmpdir + "/pairs").collect()
    )
    first_index = spark.read.parquet(tmpdir + "/idx").count()

    _merge_batch(b1, 0, *args)  # the replay
    assert sorted(
        (r["id1"], r["id2"]) for r in spark.read.parquet(tmpdir + "/pairs").collect()
    ) == first_pairs
    assert spark.read.parquet(tmpdir + "/idx").count() == first_index


def test_trained_quality_model_scores_stream_identically(spark, tmpdir, sf_smoke):
    """X6h deployment split: the quality model trains OFFLINE (batch IRLS)
    and scores ONLINE — score_quality is a stateless projection, so the
    same literal-coefficient expressions run unchanged on a document
    stream and must reproduce the batch scores row for row."""
    from streaming_data_pipeline_capstone_spark.queries.quality import (
        fit_quality_model,
        qc_feature_frame,
        score_quality,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    beta = fit_quality_model(spark, sf_smoke)
    docs = read_table(spark, sf_smoke, "documents")
    expect = {
        r["doc_id"]: (r["quality_score"], r["pred_keep"])
        for r in score_quality(qc_feature_frame(docs), beta).collect()
    }
    assert expect

    src = tmpdir + "/docs_stream"
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    scored = score_quality(qc_feature_frame(stream), beta)
    assert scored.isStreaming
    out = to_memory(scored, "qc_stream_scored", available_now=True)
    out.awaitTermination()
    got = {
        r["doc_id"]: (r["quality_score"], r["pred_keep"])
        for r in spark.table("qc_stream_scored").collect()
    }
    assert got == expect


def test_compaction_lifecycle_under_growth(spark, tmpdir):
    """The index lifecycle: drain epochs → compact —
    REBUCKETING to the next fan-out tier, the knob a growing index turns
    at compaction time since compact_index rebuilds bkt= from the key
    expressions — → drain more epochs at the new fan-out → compact again
    → drain more. Verified pairs must equal an uncompacted control run
    over the same batches, and bucket pruning must still list only
    probed directories after compaction."""
    from streaming_data_pipeline_capstone_spark.index_store import read_index
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        _merge_batch,
        compact_index,
    )

    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()
    # doc i and doc i+100 share text (cross-epoch near-dup pairs)
    def doc(i):
        return " ".join(words[(i % 7):]) + f" tail {i % 3}"

    batches = [
        [(i, doc(i)) for i in range(k * 4, k * 4 + 4)]
        + ([(100 + k, doc(k))] if k >= 2 else [])
        for k in range(5)
    ]

    def run(idx_dir, pairs_dir, plan):
        """plan = list of (epoch, bh_prefix_len, doc_fanout, compact_to)"""
        for epoch, (rows, ell, fan, compact_to) in enumerate(plan):
            if compact_to is not None:
                compact_index(
                    spark, idx_dir, partitions_per_table=2,
                    bh_prefix_len=compact_to[0], doc_fanout=compact_to[1],
                )
            df = spark.createDataFrame(rows, "doc_id long, text string")
            _merge_batch(
                df, epoch, idx_dir, pairs_dir, "doc_id", "text",
                0.5, 12, 4, bh_prefix_len=ell, doc_fanout=fan,
            )
        return {
            (r["doc1"], r["doc2"])
            for r in spark.read.parquet(pairs_dir).collect()
        }

    # control: constant fan-out, never compacted
    control = run(
        tmpdir + "/idxA", tmpdir + "/pairsA",
        [(b, 1, 16, None) for b in batches],
    )
    # lifecycle: compact+rebucket 16→256 before epoch 2, compact again
    # (same fan-out) before epoch 4
    lifecycle = run(
        tmpdir + "/idxB", tmpdir + "/pairsB",
        [
            (batches[0], 1, 16, None),
            (batches[1], 1, 16, None),
            (batches[2], 2, 256, (2, 256)),   # rebucket at compaction
            (batches[3], 2, 256, None),
            (batches[4], 2, 256, (2, 256)),   # steady-state compaction
        ],
    )
    assert lifecycle == control
    assert any(d1 >= 100 or d2 >= 100 for d1, d2 in control), (
        "fixture must produce cross-epoch pairs"
    )

    # post-compaction pruning still lists only probed bucket dirs, and
    # historical epochs are collapsed into the sentinel partition
    bands_path = tmpdir + "/idxB/bands"
    full = spark.read.parquet(bands_path)
    epochs = {r[0] for r in full.select("epoch").distinct().collect()}
    assert -1 in epochs
    buckets = sorted(r[0] for r in full.select("bkt").distinct().collect())
    assert len(buckets) > 4, "rebucketed index must spread past 16 dirs"
    probe = buckets[:2]
    pruned = read_index(spark, bands_path, buckets=probe)
    files = pruned.inputFiles()
    assert files and all(
        any(f"/bkt={b}/" in f for b in probe) for f in files
    )
    assert len(files) < len(full.inputFiles())


def test_streaming_index_ingest_restart_idempotent(spark, tmpdir):
    """Streaming ANN index ingestion (r13): drain half the vector replay,
    kill the query, restart from the same checkpoint over the full
    replay — the index must equal a one-shot encode of the corpus
    (row-for-row on codes and cells), i.e. at-least-once delivery +
    idempotent epoch appends compose to an exactly-once index."""
    import os
    import shutil

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        encode_for_layout,
    )
    from streaming_data_pipeline_capstone_spark.queries.codebooks import (
        KMEANS_CENTROIDS,
        PQ_BOOKS,
    )
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _PQ_SUB_DIM,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.streaming.ann_index_stream import (
        streaming_index_ingest,
    )

    vecs = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    replay_dir = tmpdir + "/replay"
    schema = replay_to_files(vecs, replay_dir, 4, order_col="vec_id")
    hidden = tmpdir + "/hidden"
    os.makedirs(hidden)
    for chunk in ("chunk=00002", "chunk=00003"):
        shutil.move(os.path.join(replay_dir, chunk), os.path.join(hidden, chunk))

    index_path = tmpdir + "/index"
    ckpt = tmpdir + "/ckpt"

    def drain():
        q = streaming_index_ingest(
            stream_from_replay(spark, replay_dir, schema),
            index_path, ckpt, KMEANS_CENTROIDS, PQ_BOOKS, _PQ_SUB_DIM,
        )
        q.awaitTermination()

    drain()  # first half
    for chunk in ("chunk=00002", "chunk=00003"):
        shutil.move(os.path.join(hidden, chunk), os.path.join(replay_dir, chunk))
    drain()  # restart from the same checkpoint over the full replay

    streamed = spark.read.parquet(index_path).drop("epoch")
    oneshot = encode_for_layout(vecs, KMEANS_CENTROIDS, PQ_BOOKS, _PQ_SUB_DIM)
    cols = sorted(oneshot.columns)
    a = sorted(tuple(r) for r in streamed.select(*cols).drop("embedding").collect())
    b = sorted(tuple(r) for r in oneshot.select(*cols).drop("embedding").collect())
    assert a == b
    # multiple epochs actually landed (it was a real incremental run)
    epochs = {r[0] for r in spark.read.parquet(index_path).select("epoch").distinct().collect()}
    assert len(epochs) >= 2


def test_state_index_layout_marker_pins_fanout(spark, tmpdir):
    """The bucket fan-out must stay fixed for the life of an
    index. First open records the layout; a mismatched reopen fails fast
    (instead of silently mixing bucket layouts and missing duplicates);
    compaction — the legitimate rebucket — updates the marker."""
    import pytest as _pytest

    from streaming_data_pipeline_capstone_spark.index_store import pin_index_layout
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        _merge_batch,
        compact_index,
    )

    idx = tmpdir + "/idx"
    pin_index_layout(idx, 1, 16)
    pin_index_layout(idx, 1, 16)  # same layout: fine
    with _pytest.raises(ValueError, match="layout mismatch"):
        pin_index_layout(idx, 2, 256)

    # compaction rebuilds every bkt= with the new fan-outs and re-pins
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    _merge_batch(
        df, 0, idx, tmpdir + "/pairs", "doc_id", "text", 0.5, 12, 4,
        bh_prefix_len=1, doc_fanout=16,
    )
    compact_index(spark, idx, partitions_per_table=2, bh_prefix_len=2, doc_fanout=256)
    pin_index_layout(idx, 2, 256)  # new layout now pinned
    with _pytest.raises(ValueError, match="layout mismatch"):
        pin_index_layout(idx, 1, 16)


def test_compaction_trigger_rule_fires_and_compacts(spark, tmpdir):
    """The compaction trigger is a RULE. Epoch appends
    grow files-per-bucket; once past the threshold the rule fires,
    maybe_compact_index compacts (epochs collapse to the sentinel), the
    rule resets, and verified pairs are unaffected."""
    from streaming_data_pipeline_capstone_spark.index_store import (
        compaction_due,
        max_files_per_partition,
    )
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        _merge_batch,
        maybe_compact_index,
    )

    idx, pairs = tmpdir + "/idx", tmpdir + "/pairs"
    tables = [idx + "/bands", idx + "/sets"]
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    for epoch in range(4):
        rows = [
            (epoch * 10 + i, " ".join(words[i % 3 :]) + f" t{i}")
            for i in range(3)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        _merge_batch(
            df, epoch, idx, pairs, "doc_id", "text", 0.5, 12, 4,
            bh_prefix_len=1, doc_fanout=16,
        )
    grown = max(max_files_per_partition(t, "bkt") for t in tables)
    assert grown >= 4, grown  # every epoch adds a file to its hot buckets
    before = {
        (r["doc1"], r["doc2"])
        for r in spark.read.parquet(pairs).collect()
    }
    assert not any(compaction_due(t, "bkt", max_files=16) for t in tables)
    assert any(compaction_due(t, "bkt", max_files=3) for t in tables)
    assert maybe_compact_index(spark, idx, partitions_per_table=2, max_bucket_files=3)
    assert max(max_files_per_partition(t, "bkt") for t in tables) < grown
    assert not any(compaction_due(t, "bkt", max_files=3) for t in tables)
    assert not maybe_compact_index(spark, idx, partitions_per_table=2, max_bucket_files=3)
    # post-compaction the index still answers: one more epoch finds its
    # cross-batch near-dup against compacted state
    df = spark.createDataFrame(
        [(99, " ".join(words[0:]) + " t0")], "doc_id long, text string"
    )
    _merge_batch(
        df, 9, idx, pairs, "doc_id", "text", 0.5, 12, 4,
        bh_prefix_len=1, doc_fanout=16,
    )
    after = {
        (r["doc1"], r["doc2"])
        for r in spark.read.parquet(pairs).collect()
    }
    assert before <= after
    assert any(d2 == 99 for _d1, d2 in after - before), "cross-batch pair lost after compaction"
