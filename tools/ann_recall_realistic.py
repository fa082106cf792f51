"""ANN recall at a REALISTIC cell count.

The r9 curve (`ANN_RECALL_r09.json`) certified the shipped 16x4/k=64
codebook at the fixture scale's coarse index: KMEANS_K=8 cells, nprobe=5
— i.e. the "pruned" probe still read 62% of storage. That regime says
nothing about the 100 TB serving claim, where the whole point of IVF is
nprobe/k << 1. This tool re-measures the same composed probes where the
ratio is real:

- eval corpus: the rotate-dup sf1 corpus (20k vectors; intra-replica
  cosine structure exactly preserved per replica, cross-replica
  similarity random, constant 2% planted near-dup density — the
  natural-growth corpus every scale decade uses, `tools/make_sf1.py
  --emb-mode rotate-dup`);
- coarse index: KMEANS_K=64 cells, nprobe in {4, 8, 16} ->
  nprobe/k in {0.0625, 0.125, 0.25};
- both the PQ codebooks and the coarse centroids are trained with the
  engine's own deterministic-Lloyd pipeline (operators/similarity.py)
  on a deterministic 1-in-10 sample of the INDEXED corpus
  (vec_id % 10 == 0, 2k vectors spanning every replica) — the standard
  IVF methodology (train the quantizers on a sample of what you index;
  a base-replica-only sample would mis-model the rotated replicas'
  cluster structure by construction);
- queries are spread across the corpus (every n/N-th vector), not the
  first-20 base-replica prefix, so every replica's geometry is probed;
- the artifact records, per nprobe, the MEASURED mean fraction of
  corpus vectors inside probed cells — the fraction-of-storage-read
  number the serving claim is priced on (cell occupancy is not uniform,
  so nprobe/k is only the nominal ratio).

Scoring is the same numpy twin of the engine's oracle-pinned ADC /
cosine math as tools/ann_recall.py (shared helpers imported from it).

Usage::

    python tools/ann_recall_realistic.py   # writes .tool_out/ann_recall_realistic.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.ann_recall import (  # noqa: E402
    _adc_scores,
    _bits,
    _encode,
    _load,
    _topk_ids,
)

DIM = 64
TOP_K = 10
# the shipped config — read from the registry constants so a retune
# (e.g. r12's 16x4 -> 32x2) re-certifies automatically
from streaming_data_pipeline_capstone_spark.queries.ann_config import (  # noqa: E402
    PQ_ITERS,
    PQ_K,
    PQ_SUBS,
)

KMEANS_ITERS = 5


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--eval-dir", default=os.path.join(REPO, ".sf1"))
    ap.add_argument(
        "--kmeans-k",
        type=int,
        default=None,
        help="coarse cells; default = the coarse_cells(n, n_train) RULE "
        "(operators/ann_layout.py, r14): 4·√n pow2-rounded, capped by the "
        "training sample at ~39 points/centroid",
    )
    ap.add_argument("--nprobes", default="4,8,16")
    ap.add_argument("--reranks", default="50,100,200")
    ap.add_argument("--n-queries", type=int, default=20)
    ap.add_argument(
        "--train-mod",
        type=int,
        default=10,
        help="train quantizers on vectors with vec_id %% MOD == 0",
    )
    ap.add_argument(
        "--spill",
        type=int,
        default=2,
        help="multi-assignment: store each vector in its SPILL nearest "
        "cells (ScaNN-style spilling; 1 = classic single-assignment IVF). "
        "On an isotropic corpus the single-assignment coarse quantizer is "
        "the recall ceiling (0.75 at nprobe/k=0.25 measured here); "
        "spilling trades PQ-code storage (96 bits/vector per copy) for "
        "that ceiling, leaving the probed FRACTION unchanged.",
    )
    ap.add_argument(
        "--out", default=os.path.join(REPO, ".tool_out", "ann_recall_realistic.json")
    )
    ap.add_argument(
        "--model-json",
        default=None,
        help="certify an ALREADY-TRAINED model (tools/ann_retrain_exec.py): "
        "JSON with kmeans_centroids + pq_books + pq_sub_dim; skips the "
        "in-tool training so the certificate covers the exact artifact "
        "that will serve",
    )
    args = ap.parse_args()
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    nprobes = [int(x) for x in args.nprobes.split(",")]
    reranks = [int(x) for x in args.reranks.split(",")]

    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        lloyd_kmeans_centroids,
        pq_train,
    )
    from streaming_data_pipeline_capstone_spark.session import get_spark
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    if args.model_json:
        with open(args.model_json) as fh:
            meta = json.load(fh)
        books = meta["pq_books"]
        cents = np.asarray(meta["kmeans_centroids"])
        args.kmeans_k = len(cents)
        n_train = meta.get("n_train", -1)
        kmeans_k_rule = f"pre-trained model {args.model_json} (k={args.kmeans_k})"
        print(kmeans_k_rule, file=sys.stderr)
    else:
        spark = get_spark(app_name="ann-recall-realistic")
        spark.sparkContext.setLogLevel("ERROR")
        emb = read_table(spark, args.eval_dir, "embeddings")
        train_vecs = emb.filter(F.col("vec_id") % args.train_mod == 0).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        n_train = train_vecs.count()
        print(f"training on {n_train} sampled vectors", file=sys.stderr)
        kmeans_k_rule = None
        if args.kmeans_k is None:
            from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
                coarse_cells,
            )

            n_corpus = emb.count()
            args.kmeans_k = coarse_cells(n_corpus, n_train)
            kmeans_k_rule = (
                f"coarse_cells(n={n_corpus}, n_train={n_train}) = {args.kmeans_k}"
                " (4·√n pow2, capped at n_train/39 per centroid)"
            )
            print(kmeans_k_rule, file=sys.stderr)
        books = pq_train(train_vecs, PQ_SUBS, DIM // PQ_SUBS, PQ_K, PQ_ITERS)
        cents = np.asarray(
            lloyd_kmeans_centroids(train_vecs, args.kmeans_k, KMEANS_ITERS)
        )
        spark.stop()

    ids, mat = _load(args.eval_dir)
    n = len(ids)
    norms = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent_norms = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    codes = _encode(mat, books, DIM // PQ_SUBS)
    # per-vector cell ranking (nearest first); spill-s assignment = first
    # s columns. Accumulate over the DIM axis (the engine fold's order,
    # same as probe_cells_batch) so the transient is chunk x k, never
    # chunk x k x dim — at rule-k corpora (sf100: k=2048, n=2M) the
    # broadcast 3-tensor form would need 52 GB per chunk.
    cell_rank = np.empty((n, args.kmeans_k), dtype=np.int64)
    for lo in range(0, n, 50_000):
        hi = min(lo + 50_000, n)
        d = np.zeros((hi - lo, args.kmeans_k))
        for dim_i in range(cents.shape[1]):
            diff = mat[lo:hi, dim_i, None] - cents[None, :, dim_i]
            d += diff * diff
        cell_rank[lo:hi] = np.argsort(d, axis=1, kind="stable")
    spills = sorted({1, args.spill})

    stride = max(1, n // args.n_queries)
    query_idx = list(range(0, n, stride))[: args.n_queries]

    rec_ivf = {(s, np_): [] for s in spills for np_ in nprobes}
    rec_ivfpq = {(s, np_): [] for s in spills for np_ in nprobes}
    rec_ivfpq_rerank = {
        (s, np_, r): [] for s in spills for np_ in nprobes for r in reranks
    }
    frac_read = {(s, np_): [] for s in spills for np_ in nprobes}
    rec_pq_full, rec_rerank_full = [], {r: [] for r in reranks}

    for qi in query_idx:
        q = mat[qi]
        qn = q / np.linalg.norm(q)
        cos = np.round(norms @ qn, 6)
        exact_top = _topk_ids(cos, ids, TOP_K, asc=False)

        # full-scan references at this corpus (no cell pruning)
        adc_full = _adc_scores(codes, q, books, DIM // PQ_SUBS)
        got_full = _topk_ids(adc_full, ids, TOP_K, asc=True)
        rec_pq_full.append(len(set(got_full) & set(exact_top)) / TOP_K)
        for r in reranks:
            short = _topk_ids(adc_full, ids, r, asc=True)
            smask = np.isin(ids, short)
            rr = _topk_ids(cos[smask], ids[smask], TOP_K, asc=False)
            rec_rerank_full[r].append(len(set(rr) & set(exact_top)) / TOP_K)

        probe_rank = np.argsort(-np.round(cent_norms @ qn, 12), kind="stable")
        for s in spills:
            assign = cell_rank[:, :s]
            for np_ in nprobes:
                probed = probe_rank[:np_]
                hit = np.isin(assign, probed)
                mask = hit.any(axis=1)
                # stored rows touched / total stored rows (s copies each)
                frac_read[(s, np_)].append(hit.sum() / (n * s))
                got = _topk_ids(cos[mask], ids[mask], TOP_K, asc=False)
                rec_ivf[(s, np_)].append(len(set(got) & set(exact_top)) / TOP_K)
                adc = _adc_scores(codes[mask], q, books, DIM // PQ_SUBS)
                got2 = _topk_ids(adc, ids[mask], TOP_K, asc=True)
                rec_ivfpq[(s, np_)].append(
                    len(set(got2) & set(exact_top)) / TOP_K
                )
                for r in reranks:
                    short = _topk_ids(adc, ids[mask], r, asc=True)
                    smask = np.isin(ids, short)
                    rr = _topk_ids(cos[smask], ids[smask], TOP_K, asc=False)
                    rec_ivfpq_rerank[(s, np_, r)].append(
                        len(set(rr) & set(exact_top)) / TOP_K
                    )

    def avg(xs) -> float:
        return round(float(sum(xs)) / len(xs), 3)

    artifact = {
        "eval_dir": args.eval_dir,
        "corpus": "rotate-dup sf1 (make_sf1.py --emb-mode rotate-dup)",
        "n_vectors": int(n),
        "n_queries": len(query_idx),
        "query_stride": stride,
        "top_k": TOP_K,
        "kmeans_k": args.kmeans_k,
        "kmeans_k_rule": kmeans_k_rule or "explicit --kmeans-k",
        "train_sample": (
            f"pre-trained model ({n_train} vectors; see model artifact)"
            if args.model_json
            else f"vec_id % {args.train_mod} == 0 ({n_train} vectors)"
        ),
        "pq_config": {
            "pq_subs": PQ_SUBS,
            "pq_k": PQ_K,
            "bits_per_vector": _bits(PQ_SUBS, PQ_K),
            "vs_float32": round(DIM * 32 / _bits(PQ_SUBS, PQ_K), 1),
        },
        "spills": spills,
        "cell_occupancy_spill1": (lambda cs: {
            "min": int(cs.min()),
            "max": int(cs.max()),
            "mean": round(float(cs.mean()), 1),
            "empty_cells": int((cs == 0).sum()),
        })(np.bincount(cell_rank[:, 0], minlength=args.kmeans_k)),
        "recall_at_10": {
            "pq_adc_full_scan": avg(rec_pq_full),
            "pq_adc_rerank_full_scan": {
                f"rerank={r}": avg(v) for r, v in rec_rerank_full.items()
            },
            "ivf_exact": {
                f"spill={s},nprobe={np_}": avg(v)
                for (s, np_), v in rec_ivf.items()
            },
            "ivf_pq": {
                f"spill={s},nprobe={np_}": avg(v)
                for (s, np_), v in rec_ivfpq.items()
            },
            "ivf_pq_rerank": {
                f"spill={s},nprobe={np_},rerank={r}": avg(v)
                for (s, np_, r), v in rec_ivfpq_rerank.items()
            },
        },
        "storage_read_fraction": {
            f"spill={s},nprobe={np_}": {
                "nominal_nprobe_over_k": round(np_ / args.kmeans_k, 4),
                "measured_mean": avg(v),
                "measured_max": round(max(v), 3),
                "stored_rows_vs_corpus": s,
            }
            for (s, np_), v in frac_read.items()
        },
        "notes": (
            "recall@10 vs exact cosine over the rotate-dup sf1 corpus; "
            "quantizers trained on a 1-in-10 deterministic sample of the "
            "indexed corpus with the engine's deterministic-Lloyd "
            "pipeline; queries spread corpus-wide by stride. "
            "storage_read_fraction is the measured share of STORED rows "
            "in probed cells (with spill-s each vector is stored s times, "
            "so stored rows = s x corpus; PQ codes are 96 bits so spill=2 "
            "costs 24 B/vector). On this isotropic corpus the "
            "single-assignment coarse quantizer caps ivf_exact recall at "
            "0.75 for nprobe/k=0.25 — spilling is the standard "
            "(ScaNN-style) fix and is what the shipped serving config "
            "uses; real clustered embedding corpora sit above this "
            "worst-case floor."
        ),
    }
    with open(args.out, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({k: artifact[k] for k in ("recall_at_10", "storage_read_fraction", "cell_occupancy_spill1")}, indent=1))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
