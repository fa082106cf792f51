"""A/B/A timing of the kmeans-IVF family at sf0.01 (VERDICT r5 ask #1a).

Question: LOCALCHECK_r04 recorded sim_topk_kmeans_ivf at 12.4 s and
LOCALCHECK_r05 at 22.6 s on the same code family — real regression or
the sandbox's measured 4x noise band (AB_r05)?  And does the round-6
explode-projection fix (assign_cells evaluated once per vector, commit
550ff2e) hold up under the fresh-JVM interleaved methodology?

Method (same discipline as AB_r05):

- two code legs: ``pre`` = a git worktree pinned at the last pre-fix
  commit, ``head`` = this repo;
- legs interleave pre,head,pre,head,... each in a FRESH python/JVM
  subprocess (own codegen caches, no cross-leg GC interference);
- per leg: cold run + min-of-2 warm per query, at /root/testdata/sf0.01
  (driver correctness data — unaffected by the make_sf1 prefix change);
- comparator: per-query MIN across each side's legs, so one load spike
  cannot fake a delta.

Usage::

    git worktree add /tmp/ab_ivf_prefix <pre-fix-sha>
    python tools/ab_ivf.py --pre-root /tmp/ab_ivf_prefix
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = ["sim_topk_kmeans_ivf", "sim_topk_ivf"]
SF_DIR = "/root/testdata/sf0.01"

_LEG_BODY = r"""
import json, sys, time
sf_dir, out_path, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
from streaming_data_pipeline_capstone_spark.session import get_spark
from streaming_data_pipeline_capstone_spark.registry import all_queries
spark = get_spark(app_name="ab-ivf-leg")
spark.sparkContext.setLogLevel("ERROR")
spark.range(1).count()
qs = all_queries()
cold, warm = {}, {}
for name in names:
    fn = qs[name]
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    cold[name] = round(time.perf_counter() - t0, 3)
    attempts = []
    for _ in range(2):
        t1 = time.perf_counter()
        fn(spark, sf_dir).count()
        attempts.append(time.perf_counter() - t1)
    warm[name] = round(min(attempts), 3)
    spark.catalog.clearCache()
spark.stop()
with open(out_path, "w") as fh:
    json.dump({"cold": cold, "warm": warm}, fh)
"""


def spawn_leg(code_root: str, label: str) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        out_path = tf.name
    env = dict(os.environ, PYTHONPATH=code_root)
    try:
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, "-c", _LEG_BODY, SF_DIR, out_path, ",".join(QUERIES)],
            cwd=code_root,
            env=env,
            check=True,
            timeout=1800,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        with open(out_path) as fh:
            leg = json.load(fh)
    finally:
        if os.path.exists(out_path):
            os.unlink(out_path)
    leg["label"] = label
    leg["wall"] = round(time.perf_counter() - t0, 1)
    print(f"# leg {label}: {leg['warm']} (wall {leg['wall']}s)", file=sys.stderr)
    return leg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pre-root", required=True, help="worktree at the pre-fix commit")
    ap.add_argument("--legs-per-side", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "AB_IVF_r06.json"))
    args = ap.parse_args()

    legs: list[dict] = []
    for i in range(args.legs_per_side):
        legs.append(spawn_leg(args.pre_root, f"pre#{i + 1}"))
        legs.append(spawn_leg(REPO, f"head#{i + 1}"))

    def side_min(prefix: str, kind: str) -> dict:
        side = [leg for leg in legs if leg["label"].startswith(prefix)]
        return {
            q: min(leg[kind][q] for leg in side) for q in QUERIES
        }

    def side_all(prefix: str, kind: str) -> dict:
        side = [leg for leg in legs if leg["label"].startswith(prefix)]
        return {q: [leg[kind][q] for leg in side] for q in QUERIES}

    pre_min, head_min = side_min("pre", "warm"), side_min("head", "warm")
    out = {
        "metric": "ab_ivf_pre_vs_head_warm",
        "unit": "sec (per-query min across fresh-JVM legs)",
        "sf_dir": SF_DIR,
        "question": (
            "VERDICT r5 ask #1a: is sim_topk_kmeans_ivf's 22.6 s "
            "(LOCALCHECK_r05, vs 12.4 s r4) a real regression, and what "
            "does the round-6 explode-projection fix deliver?"
        ),
        "legs_per_side": args.legs_per_side,
        "pre_warm_min": pre_min,
        "head_warm_min": head_min,
        "pre_warm_all": side_all("pre", "warm"),
        "head_warm_all": side_all("head", "warm"),
        "pre_cold_all": side_all("pre", "cold"),
        "head_cold_all": side_all("head", "cold"),
        "ratio_head_over_pre": {
            q: round(head_min[q] / pre_min[q], 3) for q in QUERIES
        },
        "method": (
            "interleaved pre,head legs, each a fresh python/JVM subprocess; "
            "cold + min-of-2 warm per query; comparator = per-query min "
            "across each side's legs"
        ),
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"pre": pre_min, "head": head_min, "ratio": out["ratio_head_over_pre"]}))


if __name__ == "__main__":
    main()
