"""EXECUTE the coarse-quantizer retrain recipe end-to-end.

tools/ann_retrain.py is the decision: *is* a retrain due, and what to
run. This tool is the operational loop itself — the FAISS main+delta
lifecycle's rebuild leg, run for real against a grown corpus:

1. **decide** — resolve the corpus's CURRENT serving model
   (queries/serving_models.serving_model: the shipped codebooks or a
   prior repoint) and apply the rule (`coarse_retrain_due`); stop here
   unless due (or ``--force``);
2. **retrain** — coarse centroids at the rule's k and PQ books, both on
   a deterministic modulo sample of the GROWN corpus with the engine's
   own deterministic-Lloyd pipeline (the exact training the per-
   invocation queries prove oracle-correct);
3. **rebuild BESIDE** — the new model's layout lands at a model-tagged
   path (`cell_layout_path(..., model_tag=...)`); the live layout is
   untouched while probes keep serving from it;
4. **re-certify recall** — tools/ann_recall_realistic.py in
   ``--model-json`` mode, so the certificate covers the EXACT artifact
   that will serve (spill / nprobe / rerank grid incl. the serving
   point); the repoint is REFUSED if the serving point's composed
   recall falls below ``--recall-floor``;
5. **repoint** — queries/serving_models.repoint_serving writes the
   model artifact atomically (tmp+rename); every serving-path registry
   query resolves it from then on;
6. **retire** — layout directories of the corpus's PREVIOUS model
   (different tag) are deleted; `-incr` / `-streamed` work dirs keyed
   on the old model hash go with them.

Each step is timed and recorded in one JSON artifact (``--out``, by
default under the git-ignored ``.tool_out/``) so the loop can be replayed.

Usage::

    python tools/ann_retrain_exec.py --sf-dir /root/repo/.sf1 \
        --out .tool_out/ann_retrain_exec.json \
        --recall-out .tool_out/ann_recall_exec.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".sf1"))
    ap.add_argument(
        "--train-mod",
        type=int,
        default=5,
        help="train quantizers on vectors with vec_id %% MOD == 0 (the "
        "recall rig's deterministic corpus-spanning sample)",
    )
    ap.add_argument(
        "--nprobe-frac",
        type=float,
        default=0.25,
        help="serving probe breadth as a fraction of k — the certified "
        "nprobe/k ratio, held constant as k grows",
    )
    ap.add_argument(
        "--spill",
        type=int,
        default=2,
        help="assignment multiplicity of the serving layout (the "
        "certified ScaNN-style spilled config)",
    )
    ap.add_argument(
        "--recall-floor",
        type=float,
        default=0.8,
        help="refuse the repoint if composed recall@10 at the serving "
        "point (spill, nprobe, rerank=100) is below this",
    )
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--skip-recall", action="store_true")
    ap.add_argument(
        "--out", default=os.path.join(REPO, ".tool_out", "ann_retrain_exec.json")
    )
    ap.add_argument(
        "--recall-out", default=os.path.join(REPO, ".tool_out", "ann_recall_exec.json")
    )
    args = ap.parse_args()
    for path in (args.out, args.recall_out):
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)

    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        _model_hash,
        _source_mtime,
        cell_layout_path,
        coarse_cells,
        coarse_retrain_due,
        ensure_cell_layout,
    )
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        lloyd_kmeans_centroids,
        pq_train,
    )
    from streaming_data_pipeline_capstone_spark.queries.ann_config import (
        KMEANS_ITERS,
        PQ_ITERS,
        PQ_K,
        PQ_SUB_DIM,
        PQ_SUBS,
    )
    from streaming_data_pipeline_capstone_spark.queries.serving_models import (
        model_path,
        repoint_serving,
        serving_model,
    )
    from streaming_data_pipeline_capstone_spark.session import get_spark
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    artifact: dict = {
        "metric": "ann_retrain_exec",
        "sf_dir": os.path.abspath(args.sf_dir),
        "steps": [],
    }

    def step(name: str, **kw) -> None:
        rec = {"step": name, **kw}
        artifact["steps"].append(rec)
        print(json.dumps(rec), file=sys.stderr)

    spark = get_spark(app_name="ann-retrain-exec")
    spark.sparkContext.setLogLevel("ERROR")

    # -- 1. decide -------------------------------------------------------
    t0 = time.monotonic()
    current = serving_model(args.sf_dir)
    emb = read_table(spark, args.sf_dir, "embeddings")
    n = emb.count()
    train_vecs = emb.filter(F.col("vec_id") % args.train_mod == 0).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n_train = train_vecs.count()
    rule_k = coarse_cells(n, n_train)
    due = coarse_retrain_due(current.k, n, n_train)
    step(
        "decide",
        n_vectors=int(n),
        n_train=int(n_train),
        current_k=current.k,
        current_source=current.source,
        rule_k=rule_k,
        retrain_due=due,
        sec=round(time.monotonic() - t0, 3),
    )
    if not due and not args.force:
        artifact["result"] = "not_due"
        with open(args.out, "w") as fh:
            json.dump(artifact, fh, indent=1)
        print(json.dumps({"result": "not_due", "rule_k": rule_k}))
        return

    # -- 2. retrain ------------------------------------------------------
    t0 = time.monotonic()
    books = pq_train(train_vecs, PQ_SUBS, PQ_SUB_DIM, PQ_K, PQ_ITERS)
    cents = lloyd_kmeans_centroids(train_vecs, rule_k, KMEANS_ITERS)
    nprobe = max(1, round(args.nprobe_frac * rule_k))
    model_meta = {
        "kmeans_centroids": cents,
        "pq_books": books,
        "pq_sub_dim": PQ_SUB_DIM,
        "nprobe": nprobe,
        "spill": args.spill,
        "rule_k": rule_k,
        "n_vectors": int(n),
        "n_train": int(n_train),
        "train_sample": f"vec_id % {args.train_mod} == 0",
        "nprobe_frac": args.nprobe_frac,
        "source_mtime": _source_mtime(args.sf_dir),
        "trained_by": "tools/ann_retrain_exec.py",
    }
    tag = "m" + _model_hash(cents, books, PQ_SUB_DIM)[:8]
    step(
        "retrain",
        rule_k=rule_k,
        nprobe=nprobe,
        spill=args.spill,
        model_tag=tag,
        sec=round(time.monotonic() - t0, 3),
    )

    # -- 3. rebuild BESIDE ----------------------------------------------
    t0 = time.monotonic()
    new_layout = ensure_cell_layout(
        spark,
        args.sf_dir,
        cents,
        books,
        PQ_SUB_DIM,
        spill=args.spill,
        model_tag=tag,
    )
    step("rebuild_beside", layout=new_layout, sec=round(time.monotonic() - t0, 3))
    spark.stop()

    # -- 4. re-certify recall (of the EXACT artifact) --------------------
    tmp_model = os.path.join(REPO, ".ann_models", f"pending-{tag}.json")
    os.makedirs(os.path.dirname(tmp_model), exist_ok=True)
    with open(tmp_model, "w") as fh:
        json.dump(model_meta, fh)
    if not args.skip_recall:
        t0 = time.monotonic()
        # certify a nprobe GRID down from the nominal ratio — serving
        # then uses the SMALLEST certified breadth meeting the recall
        # floor (probe cost is proportional to nprobe/k; a breadth the
        # certificate proves unnecessary is pure waste at 100 TB)
        nprobes = sorted({max(1, nprobe // 4), max(1, nprobe // 2), nprobe})
        cmd = [
            sys.executable,
            os.path.join(REPO, "tools", "ann_recall_realistic.py"),
            "--eval-dir",
            args.sf_dir,
            "--model-json",
            tmp_model,
            "--spill",
            str(args.spill),
            "--nprobes",
            ",".join(str(x) for x in nprobes),
            "--out",
            args.recall_out,
        ]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        with open(args.recall_out) as fh:
            recall = json.load(fh)
        grid = recall["recall_at_10"]["ivf_pq_rerank"]
        candidates = [
            (np_, grid.get(f"spill={args.spill},nprobe={np_},rerank=100"))
            for np_ in nprobes
        ]
        passing = [
            (np_, r)
            for np_, r in candidates
            if r is not None and r >= args.recall_floor
        ]
        if passing:
            nprobe, serving_recall = passing[0]  # smallest certified breadth
            model_meta["nprobe"] = nprobe
        else:
            serving_recall = candidates[-1][1] if candidates else None
        serving_key = f"spill={args.spill},nprobe={nprobe},rerank=100"
        step(
            "recertify_recall",
            artifact=args.recall_out,
            grid={f"nprobe={np_}": r for np_, r in candidates},
            serving_point=serving_key,
            composed_recall_at_10=serving_recall,
            sec=round(time.monotonic() - t0, 3),
        )
        if serving_recall is None or serving_recall < args.recall_floor:
            os.remove(tmp_model)
            artifact["result"] = "refused_low_recall"
            with open(args.out, "w") as fh:
                json.dump(artifact, fh, indent=1)
            print(
                json.dumps(
                    {"result": "refused_low_recall", "recall": serving_recall}
                )
            )
            sys.exit(2)
        model_meta["certified"] = {
            "artifact": os.path.basename(args.recall_out),
            "serving_point": serving_key,
            "composed_recall_at_10": serving_recall,
        }

    # -- 5. repoint (atomic) --------------------------------------------
    t0 = time.monotonic()
    pointer = repoint_serving(args.sf_dir, model_meta)
    os.remove(tmp_model)
    step("repoint", pointer=pointer, sec=round(time.monotonic() - t0, 3))

    # -- 6. retire the previous model's layouts --------------------------
    t0 = time.monotonic()
    base_plain = cell_layout_path(args.sf_dir)  # shipped-model paths
    retired = []
    layout_root = os.path.dirname(base_plain)
    prefix = os.path.basename(base_plain)
    for name in os.listdir(layout_root) if os.path.isdir(layout_root) else []:
        full = os.path.join(layout_root, name)
        if not name.startswith(prefix):
            continue
        if f"-{tag}" in name:
            continue  # the new model's layouts
        shutil.rmtree(full, ignore_errors=True)
        retired.append(name)
    step("retire", retired=sorted(retired), sec=round(time.monotonic() - t0, 3))

    artifact["result"] = "repointed"
    artifact["model"] = {
        k: model_meta[k]
        for k in (
            "rule_k",
            "nprobe",
            "spill",
            "n_vectors",
            "n_train",
            "train_sample",
        )
    }
    artifact["model"]["tag"] = tag
    artifact["pointer"] = model_path(args.sf_dir)
    if "certified" in model_meta:
        artifact["model"]["certified"] = model_meta["certified"]
    with open(args.out, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({"result": "repointed", "k": rule_k, "pointer": pointer}))


if __name__ == "__main__":
    main()
