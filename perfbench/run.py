"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ais_replay_kinematics --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. Each run starts a fresh JVM with the
environment pinned by ``common.pin_environment``, builds its inputs from the
seed, measures for ``--seconds``, checks every output against a reference
computation and prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (a traced run
also writes its spans to ``.perfbench_out/``).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "streaming_data_pipeline_capstone_spark"


def metric_units(kind: str) -> dict[str, str]:
    """Names and units of the ``end_to_end`` or ``per_layer`` metrics, in
    BENCHMARK.json order. A layer a workload does not reach reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import common
    import drained
    import livefeed

    workloads = {
        "ais_replay_kinematics": lambda a, t, tr: drained.run(drained.KINEMATICS, a, t, tr),
        "ais_vessel_state": lambda a, t, tr: drained.run(drained.VESSEL_STATE, a, t, tr),
        "ais_live_feed": livefeed.run,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    tracer = common.Tracer(bool(args.trace))
    try:
        res = workloads[args.workload](args, T_PROCESS, tracer)
    finally:
        common.shutdown_jvm()
        shutil.rmtree(os.path.join(common.WORK, f"run-{os.getpid()}"), ignore_errors=True)

    res.layer["latency.samples"] = float(res.samples)
    res.layer["latency.tail_pct"] = res.tail_pct
    if args.trace:
        res.layer["trace.overhead_frac"] = common.trace_overhead(args.workload, res.e2e)
        print(f"spans: {tracer.write(args.workload, args.seed)}")
        wanted = metric_units("per_layer")
        values = {k: res.layer.get(k, 0.0) for k in wanted}
    else:
        common.save_untraced(args.workload, args.seed, res.e2e)
        wanted = metric_units("end_to_end")
        values = res.e2e
    error_rate = res.failed / res.attempted if res.attempted else 1.0
    print(
        f"{args.workload} seed={args.seed}: error_rate={error_rate:.6f} "
        f"({res.failed}/{res.attempted}), latency p50 and p{res.tail_pct:g} "
        f"over {res.samples} samples"
    )
    print(f"  environment: {json.dumps(common.environment_record())}")
    for note in res.notes:
        print(f"  failure: {note}")
    for k, unit in wanted.items():
        print(f"  {k} = {values[k]:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and res.attempted > 0,
                "attempted": max(res.attempted, 1),
                "failed": res.failed if res.attempted else 1,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in wanted.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
