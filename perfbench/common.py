"""Harness plumbing shared by the workloads: the pinned environment, the
session lifecycle, statistics, spans and the per-layer counters that come
from Spark's own progress reports and REST API.

Nothing here touches the engine until :func:`start_session` is called, and
the environment is pinned from outside the program: the engine reads
``SPARK_GRAFT_*`` at session start and gets every other setting through
``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import urllib.request
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "3g"


def pin_environment(trace: bool) -> str:
    """Pin the engine's environment for one run and return its scratch dir.

    Core count from the machine (the session defaults to 32 when unset),
    driver heap well below the machine's RAM (the default is 48g), local and
    temp dirs inside the checkout, Spark UI only for a traced run (its REST
    API feeds the stage metrics)."""
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.port": "0",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def environment_record() -> dict[str, str]:
    """The pinned settings, printed with every result."""
    keys = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_UI")
    return {k: os.environ[k] for k in keys}


def start_session(work: str, master: str | None = None):
    from streaming_data_pipeline_capstone_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=master, extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    the Python workers it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every descendant (the driver
    JVM and its Python workers), from /proc: VmHWM of live processes."""
    me = os.getpid()
    children: dict[int, list[int]] = {}
    hwm: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as fh:
                status = fh.read()
        except OSError:
            continue
        ppid = hw = 0
        for line in status.splitlines():
            if line.startswith("PPid:"):
                ppid = int(line.split()[1])
            elif line.startswith("VmHWM:"):
                hw = int(line.split()[1])
        children.setdefault(ppid, []).append(int(entry))
        hwm[int(entry)] = hw
    total, stack = 0, [me]
    while stack:
        pid = stack.pop()
        total += hwm.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / 1024.0


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs: list[float], want: float = 99.0) -> tuple[float, float]:
    """The ``want`` percentile, or the highest percentile with at least ten
    samples beyond it when there are too few samples. Returns (pct, value)."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    pct = want
    while pct > 50.0 and n * (100.0 - pct) / 100.0 < 10.0:
        pct -= 1.0
    s = sorted(xs)
    rank = min(n - 1, max(0, int(round(pct / 100.0 * (n - 1)))))
    return pct, float(s[rank])


# A micro-batch's phases, in the order the engine runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)

    def span(
        self,
        name: str,
        start: float,
        end: float,
        trace: str,
        parent: str | None = None,
        counts: dict | None = None,
    ):
        if self.enabled:
            self.spans.append(
                {"name": name, "start": start, "end": end, "trace": trace, "parent": parent,
                 "counts": counts or {}}
            )

    def add_progress(self, progress: list[dict], trace: str) -> None:
        """Per-batch spans from the query's progress reports: the trigger,
        carrying the batch's input rows and state-operator counts, and laid
        out in execution order inside it, the engine's phases."""
        if not self.enabled:
            return
        for p in progress:
            t0 = iso_seconds(p["timestamp"])
            d = p.get("durationMs", {})
            root = f"{trace}/batch{p['batchId']}"
            counts = {"numInputRows": p.get("numInputRows", 0)}
            for op in p.get("stateOperators", []):
                for k in ("numRowsTotal", "numRowsUpdated", "numRowsDroppedByWatermark"):
                    counts[f"{op.get('operatorName', 'state')}.{k}"] = op.get(k, 0)
            end = t0 + d.get("triggerExecution", 0) / 1e3
            self.span("streaming.trigger", t0, end, root, counts=counts)
            t = t0
            for phase in PHASES:
                ms = d.get(phase, 0)
                self.span(f"streaming.{phase}", t, t + ms / 1e3, root, parent="streaming.trigger")
                t += ms / 1e3

    def write(self, workload: str, seed: int) -> str | None:
        if not self.enabled:
            return None
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{workload}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
        return path


def iso_seconds(stamp: str) -> float:
    """Epoch seconds of a progress report's ISO-8601 UTC timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def p90(xs: list[float]) -> float:
    return float(sorted(xs)[int(0.9 * (len(xs) - 1))]) if xs else 0.0


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Per-layer numbers of the micro-batch engine and its stateful
    operators, summed or taken as medians over the batches that carried
    data. The window aggregation reports as ``stateStoreSave``; the keyed
    Python state under its own operator name."""
    batches = data_batches(progress)
    d = [p.get("durationMs", {}) for p in batches]
    trig = [x.get("triggerExecution", 0) for x in d]
    out = {
        "streaming.batches": float(len(batches)),
        "streaming.trigger_ms.p50": median(trig),
        "streaming.trigger_ms.p90": p90(trig),
        "streaming.planning_ms": median([x.get("queryPlanning", 0) for x in d]),
        "streaming.wal_ms": median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
        "sources.offset_ms": median([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
        "streaming.sinks.write_ms": median([x.get("addBatch", 0) for x in d]),
    }
    for layer, is_layer in (
        ("operators.windows", lambda name: name == "stateStoreSave"),
        ("streaming.state", lambda name: name != "stateStoreSave"),
    ):
        ops = [
            op for p in batches for op in p.get("stateOperators", [])
            if is_layer(op.get("operatorName", ""))
        ]
        updated = float(sum(op.get("numRowsUpdated", 0) for op in ops))
        update_ms = float(sum(op.get("allUpdatesTimeMs", 0) for op in ops))
        out.update({
            f"{layer}.update_ms": update_ms,
            f"{layer}.commit_ms": float(sum(op.get("commitTimeMs", 0) for op in ops)),
            f"{layer}.keys_updated": updated,
            f"{layer}.state_rows": float(ops[-1].get("numRowsTotal", 0)) if ops else 0.0,
            f"{layer}.bytes": float(max((op.get("memoryUsedBytes", 0) for op in ops), default=0)),
            f"{layer}.dropped": float(sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)),
            f"{layer}.update_ms_per_key": update_ms / updated if updated else 0.0,
        })
    return out


class StageMetrics:
    """Stage shuffle and task metrics from the Spark UI's REST API (traced
    runs only: the UI is off otherwise)."""

    def __init__(self, spark):
        self.base = None
        url = spark.sparkContext.uiWebUrl
        if url:
            self.base = f"{url}/api/v1/applications/{spark.sparkContext.applicationId}"
        self.seen: set[tuple[int, int]] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def mark(self) -> None:
        """Forget every stage completed so far."""
        if self.base:
            self.seen = {(s["stageId"], s["attemptId"]) for s in self._get("/stages?status=complete")}

    def collect(self) -> dict[str, float]:
        """Shuffle bytes written by stages completed since :meth:`mark`, and
        the task skew (max / median task run time) of the stage that reads
        the most shuffle data among them."""
        if not self.base:
            return {"exchange.shuffle_write_bytes": 0.0, "exchange.task_skew": 0.0}
        stages = [
            s
            for s in self._get("/stages?status=complete")
            if (s["stageId"], s["attemptId"]) not in self.seen
        ]
        write = float(sum(s.get("shuffleWriteBytes", 0) for s in stages))
        skew = 0.0
        readers = [s for s in stages if s.get("shuffleReadBytes", 0) > 0 and s.get("numTasks", 0) > 1]
        if readers:
            top = max(readers, key=lambda s: s.get("executorRunTime", 0))
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = float(q[1] / q[0]) if q[0] else 0.0
        return {"exchange.shuffle_write_bytes": write, "exchange.task_skew": skew}


def save_untraced(workload: str, seed: int, e2e: dict[str, float]) -> None:
    """Keep an untraced run's end-to-end figures for the traced run's
    overhead report."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"untraced-{workload}-seed{seed}.json"), "w") as fh:
        json.dump(e2e, fh)


def trace_overhead(workload: str, traced: dict[str, float]) -> float:
    """Tracing overhead: the median events/s of this checkout's untraced
    runs of the workload over the traced run's, minus one (0 when there
    are no untraced runs yet)."""
    rates = []
    if os.path.isdir(OUT):
        for name in os.listdir(OUT):
            if name.startswith(f"untraced-{workload}-seed"):
                with open(os.path.join(OUT, name)) as fh:
                    rates.append(json.load(fh)["events_per_s"])
    if not rates or not traced.get("events_per_s"):
        return 0.0
    return median(rates) / traced["events_per_s"] - 1.0


@dataclass
class Result:
    """What one run reports: end-to-end metrics (untraced runs), per-layer
    metrics (traced runs), operations attempted and failed, and notes on
    any failure."""

    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    samples: int = 0  # latency samples behind the percentiles
    tail_pct: float = 99.0  # the percentile reported as latency_p99_ms
    notes: list[str] = field(default_factory=list)
