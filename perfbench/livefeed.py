"""The open-loop live feed: ``feedgen.py`` drops wire-JSON files of the
reference cadence into a directory, four a second on a fixed schedule, while
entry point C (``preprocess_from_envelope`` -> ``recent_positions_stream``,
k=3) runs on the default trigger into a ``streaming.sinks.for_each_batch``
sink that appends every micro-batch's rows, tagged with its epoch, to
parquet.

An event's latency runs from the wall time it was due at the generator to
the commit of the first micro-batch whose output holds its row. Events due
in the first ``WARMUP_S`` seconds warm the JVM and are not measured; an
event the pipeline keeps that never shows up, or shows up after
``LIMIT_S``, counts as failed, and so does every row in which the sink's
final per-vessel state differs from the batch twin over all landed files.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd

import common
import drained

VESSELS = 3_000
WARMUP_S = 16
LIMIT_S = 10.0


def run(args, t_process: float, tracer: common.Tracer) -> common.Result:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from streaming_data_pipeline_capstone_spark.plans.predict import recent_positions_stream
    from streaming_data_pipeline_capstone_spark.plans.preprocess import preprocess_from_envelope
    from streaming_data_pipeline_capstone_spark.sources.readers import read_stream_files
    from streaming_data_pipeline_capstone_spark.streaming.sinks import for_each_batch

    work = common.pin_environment(args.trace)
    res = common.Result()
    t = time.time()
    spark = common.start_session(work)
    tracer.span("session.start", t, time.time(), "setup")
    res.layer["session.start_s"] = time.time() - t

    incoming, out = os.path.join(work, "incoming"), os.path.join(work, "out")
    manifest = os.path.join(work, "manifest.csv")
    os.makedirs(incoming)
    value = T.StructType([T.StructField("value", T.StringType())])
    processed = preprocess_from_envelope(read_stream_files(spark, incoming, value, fmt="text"))
    commits: dict[int, float] = {}

    def sink(batch, epoch):
        batch.withColumn("epoch", F.lit(epoch)).write.mode("append").parquet(out)
        commits[epoch] = time.time()

    stages = common.StageMetrics(spark) if args.trace else None
    if stages:
        stages.mark()
    q = for_each_batch(recent_positions_stream(processed), sink, os.path.join(work, "ck"))
    feed_s = WARMUP_S + int(args.seconds)
    t_feed = time.time()
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "feedgen.py"),
            "--seed", str(args.seed), "--vessels", str(VESSELS), "--seconds", str(feed_s),
            "--out", incoming, "--manifest", manifest,
        ],
        env={**os.environ, "PYTHONPATH": os.path.dirname(os.path.abspath(__file__))},
    )
    try:
        gen.wait(timeout=feed_s + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"feed generator exited with {gen.returncode}")
    tracer.span("feed", t_feed, time.time(), "feed")

    man = pd.read_csv(manifest)
    # let the engine take in the last file, within the latency limit
    deadline = time.time() + LIMIT_S
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in q.recentProgress) >= len(man):
            break
        time.sleep(0.05)
    q.stop()
    progress = list(q.recentProgress)
    tracer.add_progress(progress, "feed")
    if stages:
        res.layer.update(stages.collect())

    batches = common.data_batches(progress)
    res.e2e["setup_s"] = common.iso_seconds(batches[0]["timestamp"]) - t_process

    # first epoch whose output holds each event's row
    rows = spark.read.parquet(out).select(
        "mmsi", F.unix_seconds("timestamp_utc").alias("event_s"), "epoch"
    ).groupBy("mmsi", "event_s").agg(F.min("epoch").alias("epoch")).toPandas()
    ev = man.merge(rows, on=["mmsi", "event_s"], how="left")
    ev["commit"] = ev["epoch"].map(commits)
    t_measure = ev["due"].min() + WARMUP_S
    measured = ev[(ev["kept"] == 1) & (ev["due"] >= t_measure)]
    lat_ms = ((measured["commit"] - measured["due"]) * 1e3).to_numpy()
    ok = ~np.isnan(lat_ms) & (lat_ms <= LIMIT_S * 1e3)
    res.attempted, res.failed = len(measured), int((~ok).sum())
    if res.failed:
        res.notes.append(f"{res.failed} events never committed or later than {LIMIT_S:g} s")
    # an event past the limit counts as failed, and its latency stays in
    good = np.where(np.isnan(lat_ms), LIMIT_S * 1e3, lat_ms).tolist()
    res.samples = len(good)
    res.e2e["events_per_s"] = int(ok.sum()) / float(args.seconds)
    res.e2e["latency_p50_ms"] = common.median(good)
    res.tail_pct, res.e2e["latency_p99_ms"] = common.tail_percentile(good)

    t = time.time()
    bad = drained.state_mismatches(spark, out, spark.read.text(incoming))
    tracer.span("check", t, time.time(), "check")
    if bad:
        res.notes.append(f"final vessel state differs from the batch twin in {bad} rows")
        res.failed += bad

    files = man.drop_duplicates("released")
    res.layer["generator.late_ms"] = common.tail_percentile(
        ((files["landed"] - files["released"]) * 1e3).tolist()
    )[1]
    if args.trace:
        res.layer.update(common.progress_layers(progress))
        start = {p["batchId"]: common.iso_seconds(p["timestamp"]) for p in progress}
        lag = (ev["epoch"].map(start) - ev["landed"]).dropna() * 1e3
        res.layer["sources.lag_ms"] = common.median(lag.tolist())
        res.layer["streaming.sinks.rows_out"] = float(spark.read.parquet(out).count())
    res.layer["session.peak_rss_mb"] = common.peak_rss_mb()
    return res

