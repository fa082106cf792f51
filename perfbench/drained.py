"""Drained replays: a fixed replay of AIS wire JSON, written once as
event-time-ordered micro-batch chunks, pushed through a pipeline entry
point until the source is empty. Each drain starts a fresh query (fresh
checkpoint and sink) over the same chunks.

- ``ais_replay_kinematics``: entry point B, ``preprocess_from_envelope`` ->
  ``kinematic_aggs`` with the 5-minute watermark, appended to parquet by
  ``streaming.sinks.to_files``.
- ``ais_vessel_state``: entry point C, ``preprocess_from_envelope`` ->
  ``recent_positions_stream`` (k=3), written to parquet per micro-batch by a
  ``streaming.sinks.for_each_batch`` sink.

Every drain's output is checked against the batch twin of the same
pipeline over the same replay.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import aisgen
import common

WATERMARK = "5 minutes"
# each event falls into window / slide = 2 sliding windows
WINDOWS_PER_EVENT = 2
# The replay is prepared this many times in one run; setup_s counts one
# preparation, at the median of the rounds.
SETUP_ROUNDS = 3
# Full drains run before measuring: the JVM keeps compiling the per-row
# paths (JSON decode, geo, aggregation) over the first drains.
WARMUP_DRAINS = 2


@dataclass(frozen=True)
class DrainSpec:
    n_events: int
    n_vessels: int
    n_chunks: int
    late_share: float
    disorder_share: float
    zipf: float | None  # per-vessel report-rate skew, None = cadence only
    entry: str  # "B" kinematics or "C" vessel state


KINEMATICS = DrainSpec(24_000, 700, 4, 0.02, 0.05, None, "B")
VESSEL_STATE = DrainSpec(12_000, 4_000, 3, 0.0, 0.05, 1.1, "C")


@dataclass
class Drain:
    t_start: float  # perf_counter time the query started
    wall_s: float
    batch_end: list[float]  # perf_counter time each data batch committed, in order
    progress: list[dict]
    out: str


def write_replay(spark, spec: DrainSpec, seed: int, path: str) -> tuple[aisgen.Replay, object]:
    """Generate the replay and write it as event-time-ordered chunks with
    ``sources.replay.replay_to_files``. Returns the replay and the schema of
    the chunk files. The ``late`` column rides along for the batch twin; the
    pipeline reads only ``value``."""
    from streaming_data_pipeline_capstone_spark.sources.replay import replay_to_files

    rep = aisgen.make_replay(
        seed, spec.n_events, spec.n_vessels, spec.n_chunks,
        spec.late_share, spec.disorder_share, spec.zipf,
    )
    pdf = pd.DataFrame(
        {
            "arrival": np.arange(len(rep.msgs.value), dtype=np.int64),
            "late": rep.late,
            "value": rep.msgs.value,
        }
    )
    shutil.rmtree(path, ignore_errors=True)
    schema = replay_to_files(spark.createDataFrame(pdf), path, spec.n_chunks, order_col="arrival")
    return rep, schema


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def drain(spark, spec: DrainSpec, path: str, schema, work: str, tag: str) -> Drain:
    """One drain: a fresh query over the whole replay, run to completion."""
    from streaming_data_pipeline_capstone_spark.plans.predict import recent_positions_stream
    from streaming_data_pipeline_capstone_spark.plans.preprocess import (
        kinematic_aggs,
        preprocess_from_envelope,
    )
    from streaming_data_pipeline_capstone_spark.sources.replay import stream_from_replay
    from streaming_data_pipeline_capstone_spark.streaming.sinks import for_each_batch, to_files

    out, ck = os.path.join(work, f"out-{tag}"), os.path.join(work, f"ck-{tag}")
    processed = preprocess_from_envelope(stream_from_replay(spark, path, schema, 1))
    ends: list[float] = []
    t0 = time.perf_counter()
    if spec.entry == "B":
        q = to_files(kinematic_aggs(processed, watermark=WATERMARK), out, ck, available_now=True)
    else:
        from pyspark.sql import functions as F

        def sink(batch, epoch):
            batch.withColumn("epoch", F.lit(epoch)).write.mode("append").parquet(out)
            ends.append(time.perf_counter())

        q = for_each_batch(recent_positions_stream(processed), sink, ck, available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    progress = list(q.recentProgress)
    if spec.entry == "B":
        # the file sink commits at the end of each trigger
        p0 = common.iso_seconds(progress[0]["timestamp"])
        ends = [
            t0 + common.iso_seconds(p["timestamp"]) - p0 + p["durationMs"]["triggerExecution"] / 1e3
            for p in common.data_batches(progress)
        ]
    return Drain(t_start=t0, wall_s=wall, batch_end=ends, progress=progress, out=out)


def backlog_latencies_ms(d: Drain, rep: aisgen.Replay) -> list[float]:
    """Every event is due when the drain starts (the whole replay is
    backlog); its latency is the commit of the micro-batch that admits it.
    Only events the pipeline keeps and does not drop as late count."""
    counts = np.bincount(rep.chunk[rep.msgs.kept & ~rep.late], minlength=len(d.batch_end))
    out: list[float] = []
    for k, end in enumerate(d.batch_end):
        out.extend([(end - d.t_start) * 1e3] * int(counts[k]))
    return out


# -- batch twins ----------------------------------------------------------


def twin_kinematics(spark, path: str, final_wm_s: float):
    """``kinematic_aggs`` on the batch frame without the injected late rows,
    keeping only windows the final watermark has closed."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.plans.preprocess import (
        kinematic_aggs,
        preprocess_from_envelope,
    )

    batch = spark.read.parquet(path).filter(~F.col("late"))
    aggs = kinematic_aggs(preprocess_from_envelope(batch))
    return aggs.filter(F.unix_micros(F.col("window.end")) <= int(final_wm_s * 1e6))


def twin_state(envelope):
    """``operators.windows.last_k_per_key`` over the whole input as one
    batch frame."""
    from streaming_data_pipeline_capstone_spark.operators.windows import last_k_per_key
    from streaming_data_pipeline_capstone_spark.plans.predict import KINEMATIC_VALUE_COLS
    from streaming_data_pipeline_capstone_spark.plans.preprocess import preprocess_from_envelope

    proc = preprocess_from_envelope(envelope)
    return last_k_per_key(proc, key="mmsi", order_col="timestamp_utc", k=3).select(
        "mmsi", "timestamp_utc", *KINEMATIC_VALUE_COLS, "rn"
    )


def final_state(spark, out: str):
    """The sink's view of the state: each vessel's rows from the last
    micro-batch that updated it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = spark.read.parquet(out)
    last = F.max("epoch").over(Window.partitionBy("mmsi"))
    return rows.withColumn("last", last).filter(F.col("epoch") == F.col("last")).drop(
        "epoch", "last"
    )


def kinematics_mismatches(spark, d: Drain, path: str) -> int:
    """Window rows that differ between the drain's output and the batch
    twin. Averages are compared to 1e-9 relative (summation order differs
    between a partial-merge and a one-pass aggregate)."""
    final_wm_s = common.iso_seconds(d.progress[-1]["eventTime"]["watermark"])
    key = ["start", "end", "mmsi"]
    cols = [
        "avg_speed_over_ground", "avg_course_over_ground", "avg_rate_of_turn",
        "last_longitude", "last_latitude", "last_cartesian_x", "last_cartesian_y",
    ]

    def frame(df):
        return df.select("window.start", "window.end", "mmsi", *cols).toPandas().set_index(key)

    got = frame(spark.read.parquet(d.out))
    want = frame(twin_kinematics(spark, path, final_wm_s))
    if len(got.index.unique()) != len(got):
        return len(got)  # a window emitted twice
    both = got.join(want, how="outer", lsuffix="_got", rsuffix="_want")
    bad = np.zeros(len(both), dtype=bool)
    for c in cols:
        g, w = both[f"{c}_got"].to_numpy(float), both[f"{c}_want"].to_numpy(float)
        same = np.isclose(g, w, rtol=1e-9, atol=1e-9) | (np.isnan(g) & np.isnan(w))
        bad |= ~same
    # a key missing on either side reads NaN for every column
    bad |= both[[f"{c}_got" for c in cols]].isna().all(axis=1).to_numpy()
    bad |= both[[f"{c}_want" for c in cols]].isna().all(axis=1).to_numpy()
    return int(bad.sum())


def state_mismatches(spark, out: str, envelope) -> int:
    got, want = final_state(spark, out), twin_state(envelope)
    return got.exceptAll(want).count() + want.exceptAll(got).count()


def late_drop_check(rep: aisgen.Replay, d: Drain) -> tuple[float, float]:
    """(measured, injected) share of window rows dropped as late. Measured:
    the window operator's ``numRowsDroppedByWatermark`` over the window rows
    it took in; injected: the late share of the kept events."""
    kept = int(rep.msgs.kept.sum())
    late_kept = int((rep.msgs.kept & rep.late).sum())
    dropped = common.progress_layers(d.progress)["operators.windows.dropped"]
    return dropped / (WINDOWS_PER_EVENT * kept), late_kept / kept


# -- layer functions in batch form over one chunk --------------------------


def layer_timings(spark, path: str, chunk: int = 1) -> dict[str, float]:
    """Each preprocessing layer's public function timed alone over one
    replay chunk, materialized through the no-op sink (median of 3)."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.plans.preprocess import preprocess_from_envelope
    from streaming_data_pipeline_capstone_spark.schemas import AIS_WIRE_SCHEMA, decode_json_envelope

    src = spark.read.parquet(path).filter(F.col("chunk") == chunk).select("value")
    src.cache().count()

    def timed(df) -> float:
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append((time.perf_counter() - t) * 1e3)
        return common.median(ts)

    out = {
        "schemas.decode_ms": timed(decode_json_envelope(src, AIS_WIRE_SCHEMA)),
        "plans.preprocess.chunk_ms": timed(preprocess_from_envelope(src)),
        "plans.preprocess.kept_frac": preprocess_from_envelope(src).count() / src.count(),
    }
    src.unpersist()
    return out


# -- the workload ------------------------------------------------------------


def run(spec: DrainSpec, args, t_process: float, tracer: common.Tracer) -> common.Result:
    work = common.pin_environment(args.trace)
    res = common.Result()
    t = time.time()
    spark = common.start_session(work)
    tracer.span("session.start", t, time.time(), "setup")
    res.layer["session.start_s"] = time.time() - t

    path = os.path.join(work, "replay")
    preps = []
    for _ in range(SETUP_ROUNDS):
        t = time.time()
        rep, schema = write_replay(spark, spec, args.seed, path)
        tracer.span("sources.replay.write", t, time.time(), "setup")
        preps.append(time.time() - t)
    res.layer["sources.replay.write_s"] = common.median(preps)
    res.layer["sources.replay.bytes"] = float(dir_bytes(path))
    for i in range(WARMUP_DRAINS):
        t = time.time()
        drain(spark, spec, path, schema, work, f"warm{i}")
        tracer.span("warmup.drain", t, time.time(), "setup")

    stages = common.StageMetrics(spark) if args.trace else None
    if stages:
        stages.mark()
    drains: list[Drain] = []
    # as many drains as fit in the run's seconds, at least one
    t_stop = time.perf_counter() + args.seconds
    while not drains or time.perf_counter() + drains[-1].wall_s <= t_stop:
        t_wall = time.time()
        d = drain(spark, spec, path, schema, work, f"m{len(drains)}")
        tracer.span("drain", t_wall, t_wall + d.wall_s, f"drain{len(drains)}")
        tracer.add_progress(d.progress, f"drain{len(drains)}")
        drains.append(d)
    if stages:
        st = stages.collect()
        res.layer["exchange.shuffle_write_bytes"] = st["exchange.shuffle_write_bytes"] / len(drains)
        res.layer["exchange.task_skew"] = st["exchange.task_skew"]
    first_admitted = common.iso_seconds(common.data_batches(drains[0].progress)[0]["timestamp"])
    # one set-up round counts, at the median of the rounds
    res.e2e["setup_s"] = first_admitted - t_process - sum(preps) + common.median(preps)

    n = len(rep.msgs.value)
    res.e2e["events_per_s"] = common.median([n / d.wall_s for d in drains])
    p50s, tails = [], []
    for d in drains:
        lat = backlog_latencies_ms(d, rep)
        p50s.append(common.median(lat))
        pct, tail = common.tail_percentile(lat)
        tails.append(tail)
        res.samples += len(lat)
    res.tail_pct = pct
    res.e2e["latency_p50_ms"] = common.median(p50s)
    res.e2e["latency_p99_ms"] = common.median(tails)

    # correctness: every drain against the batch twin
    t = time.time()
    for d in drains:
        batches = len(common.data_batches(d.progress))
        res.attempted += batches
        if spec.entry == "B":
            bad = kinematics_mismatches(spark, d, path)
            measured, injected = late_drop_check(rep, d)
            if abs(measured - injected) > 1e-12:
                res.notes.append(f"late-drop share {measured:.6f} != injected {injected:.6f}")
                bad += 1
            res.layer["operators.windows.late_dropped_frac"] = measured
            res.layer["operators.windows.late_injected_frac"] = injected
        else:
            bad = state_mismatches(spark, d.out, spark.read.parquet(path))
        if bad:
            res.notes.append(f"drain output differs from the batch twin in {bad} rows")
            res.failed += batches
    tracer.span("check", t, time.time(), "check")

    if args.trace:
        layers = [common.progress_layers(d.progress) for d in drains]
        for k in layers[0]:
            res.layer[k] = common.median([x[k] for x in layers])
        res.layer["streaming.sinks.rows_out"] = common.median(
            [float(spark.read.parquet(d.out).count()) for d in drains]
        )
        t = time.time()
        res.layer.update(layer_timings(spark, path))
        tracer.span("layers.batch_form", t, time.time(), "layers")
    res.layer["session.peak_rss_mb"] = common.peak_rss_mb()
    common.shutdown_jvm()

    if args.trace and spec.entry == "B":
        res.layer["baseline.local1_events_per_s"] = local1_leg(spec, path, schema, work, n, tracer)
    return res


def local1_leg(spec: DrainSpec, path: str, schema, work: str, n: int, tracer) -> float:
    """The same drain on a fresh single-core session: the reference ran its
    preprocessing job at local[1]."""
    spark = common.start_session(work, master="local[1]")
    try:
        drain(spark, spec, path, schema, work, "l1warm")
        t = time.time()
        d = drain(spark, spec, path, schema, work, "l1")
        tracer.span("baseline.local1.drain", t, time.time(), "baseline")
        return n / d.wall_s
    finally:
        common.shutdown_jvm()
