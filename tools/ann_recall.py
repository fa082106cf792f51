"""Recall-vs-compression curve for the ANN family (VERDICT r6 ask #5;
pq_subs axis added for r9, VERDICT r8 ask #2).

The deployment-shape probes trade recall for compute/storage three ways:
PQ quantization loss (ADC on integer codes vs exact cosine), IVF cell
pruning loss (unprobed cells can hold true neighbors), and their product
(IVF-PQ). The r8 curve swept only pq_k (codewords per sub-book) at a
fixed 4×16 subspace split and read flat ~0.14 recall@10 at every pq_k —
the binding constraint was the SUB-QUANTIZER COUNT, not codebook size:
4 sub-quantizers on dim 64 quantize 16 dims with one code. This round
sweeps pq_subs × pq_k (sub_dim = 64 / pq_subs) and nprobe 1..5, so the
shipped config is chosen off a recorded curve with the right lever.

Methodology:

- training runs the SAME deterministic-Lloyd pipeline the engine ships
  (operators/similarity.py: lowest-id init, first-min tie-break, 6 dp
  mean rounding) on the same training slice tools/train_codebooks.py
  uses (sf0.01 — codebooks are always trained on a sample);
- evaluation scores the sf0.1 corpus (2k vectors, the driver bench SF)
  for the first N_QUERIES vec_ids, numpy ADC/cosine arithmetic — the
  engine's scoring parity with this math is already oracle-pinned, so
  the curve characterizes the MODEL, not the plan;
- recall@10(q) = |approx_top10 ∩ exact_top10| / 10, averaged over
  queries; ties broken vec_id-asc exactly like the registry queries.

Usage::

    python tools/ann_recall.py   # writes .tool_out/ann_recall.json
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRAIN_SF_DIR = "/root/testdata/sf0.01"
EVAL_SF_DIR = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, ".tool_out", "ann_recall.json")

N_QUERIES = 20
TOP_K = 10
DIM = 64
PQ_SUBS_SWEEP = (4, 8, 16, 32)  # sub_dim = DIM / subs; 4x16 was the r8 artifact
PQ_SIZES = (8, 16, 64)  # codewords per sub-book
NPROBES = (1, 2, 3, 4, 5)  # of _KMEANS_K=8 coarse cells
RERANKS = (20, 50, 100)  # exact-rerank shortlist sizes (ADC top-R -> cosine)
PQ_ITERS, KMEANS_K, KMEANS_ITERS = 3, 8, 5


def _load(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, matrix) sorted by vec_id — via pyarrow, so chunked corpus
    directories read too and 2M-row corpora never box through Python
    row objects (float32 -> float64 is exact)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    ).sort_by("vec_id")
    ids = t["vec_id"].to_numpy()
    emb = t["embedding"].combine_chunks()
    flat = emb.flatten().to_numpy(zero_copy_only=False)
    mat = flat.astype(np.float64).reshape(len(ids), -1)
    return ids, mat


def _topk_ids(scores: np.ndarray, ids: np.ndarray, k: int, asc: bool) -> list[int]:
    """Top-k by score with vec_id-asc tie-break (registry ordering)."""
    order = np.lexsort((ids, scores if asc else -scores))
    return [int(ids[i]) for i in order[:k]]


def _adc_scores(
    codes: np.ndarray, query: np.ndarray, books: list, sub_dim: int
) -> np.ndarray:
    """Sum over sub-spaces of squared L2 between the query sub-vector and
    the code's sub-centroid — the engine's pq_adc_score math."""
    n = codes.shape[0]
    out = np.zeros(n)
    for s in range(codes.shape[1]):
        qs = query[s * sub_dim : (s + 1) * sub_dim]
        table = ((np.asarray(books[s]) - qs) ** 2).sum(axis=1)  # (pq_k,)
        out += table[codes[:, s]]
    return np.round(out, 6)


def _encode(mat: np.ndarray, books: list, sub_dim: int) -> np.ndarray:
    subs = len(books)
    codes = np.zeros((mat.shape[0], subs), dtype=np.int64)
    for s in range(subs):
        sub = mat[:, s * sub_dim : (s + 1) * sub_dim]
        d = ((sub[:, None, :] - np.asarray(books[s])[None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d.argmin(axis=1)  # first-min, matching the engine
    return codes


def _assign(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return d.argmin(axis=1)


def _bits(subs: int, pq_k: int) -> int:
    return subs * max(1, int(np.ceil(np.log2(pq_k))))


def main() -> None:
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        lloyd_kmeans_centroids,
        pq_train,
    )
    from streaming_data_pipeline_capstone_spark.session import get_spark
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    spark = get_spark(app_name="ann-recall")
    spark.sparkContext.setLogLevel("ERROR")
    emb = read_table(spark, TRAIN_SF_DIR, "embeddings")
    train_vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    configs = [
        (subs, DIM // subs, pq_k) for subs in PQ_SUBS_SWEEP for pq_k in PQ_SIZES
    ]
    books_by_cfg = {}
    for subs, sub_dim, pq_k in configs:
        books_by_cfg[(subs, pq_k)] = pq_train(
            train_vecs, subs, sub_dim, pq_k, PQ_ITERS
        )
        print(f"trained subs={subs} pq_k={pq_k}", file=sys.stderr)
    cents = np.asarray(lloyd_kmeans_centroids(train_vecs, KMEANS_K, KMEANS_ITERS))
    spark.stop()

    ids, mat = _load(EVAL_SF_DIR)
    norms = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cells = _assign(mat, cents)
    cent_norms = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    codes_by_cfg = {
        (subs, pq_k): _encode(mat, books, DIM // subs)
        for (subs, pq_k), books in books_by_cfg.items()
    }

    rec_pq = {cfg: [] for cfg in codes_by_cfg}
    rec_pq_l2 = {cfg: [] for cfg in codes_by_cfg}
    rec_metric = []
    rec_ivf = {np_: [] for np_ in NPROBES}
    rec_ivfpq = {(np_, cfg): [] for np_ in NPROBES for cfg in codes_by_cfg}
    rec_rerank = {(r, cfg): [] for r in RERANKS for cfg in codes_by_cfg}
    rec_ivfpq_rerank = {
        (np_, r, cfg): []
        for np_ in NPROBES
        for r in RERANKS
        for cfg in codes_by_cfg
    }

    for qi in range(N_QUERIES):
        q = mat[qi]
        qn = q / np.linalg.norm(q)
        cos = np.round(norms @ qn, 6)
        exact_top = _topk_ids(cos, ids, TOP_K, asc=False)

        # ADC approximates squared L2 on the RAW vectors; the exact-L2
        # top-10 separates metric mismatch (L2 vs cosine on unnormalized
        # data) from quantization loss proper.
        l2 = np.round(((mat - q) ** 2).sum(axis=1), 6)
        exact_l2_top = _topk_ids(l2, ids, TOP_K, asc=True)
        rec_metric.append(len(set(exact_l2_top) & set(exact_top)) / TOP_K)

        for cfg, codes in codes_by_cfg.items():
            subs, pq_k = cfg
            adc = _adc_scores(codes, q, books_by_cfg[cfg], DIM // subs)
            got = _topk_ids(adc, ids, TOP_K, asc=True)
            rec_pq[cfg].append(len(set(got) & set(exact_top)) / TOP_K)
            rec_pq_l2[cfg].append(len(set(got) & set(exact_l2_top)) / TOP_K)
            for r in RERANKS:
                # the production probe: ADC shortlist of R ids, exact
                # cosine re-rank of only those R raw vectors
                short = _topk_ids(adc, ids, r, asc=True)
                smask = np.isin(ids, short)
                rr = _topk_ids(cos[smask], ids[smask], TOP_K, asc=False)
                rec_rerank[(r, cfg)].append(
                    len(set(rr) & set(exact_top)) / TOP_K
                )

        probe_rank = np.argsort(-np.round(cent_norms @ qn, 12), kind="stable")
        for np_ in NPROBES:
            probed = set(int(c) for c in probe_rank[:np_])
            mask = np.isin(cells, list(probed))
            got = _topk_ids(cos[mask], ids[mask], TOP_K, asc=False)
            rec_ivf[np_].append(len(set(got) & set(exact_top)) / TOP_K)
            for cfg, codes in codes_by_cfg.items():
                subs, pq_k = cfg
                adc = _adc_scores(codes[mask], q, books_by_cfg[cfg], DIM // subs)
                got2 = _topk_ids(adc, ids[mask], TOP_K, asc=True)
                rec_ivfpq[(np_, cfg)].append(
                    len(set(got2) & set(exact_top)) / TOP_K
                )
                for r in RERANKS:
                    short = _topk_ids(adc, ids[mask], r, asc=True)
                    smask = np.isin(ids, short)
                    rr = _topk_ids(cos[smask], ids[smask], TOP_K, asc=False)
                    rec_ivfpq_rerank[(np_, r, cfg)].append(
                        len(set(rr) & set(exact_top)) / TOP_K
                    )

    def avg(xs: list[float]) -> float:
        return round(sum(xs) / len(xs), 3)

    def cfg_key(cfg: tuple[int, int]) -> str:
        return f"pq_subs={cfg[0]},pq_k={cfg[1]}"

    artifact = {
        "train_sf_dir": TRAIN_SF_DIR,
        "eval_sf_dir": EVAL_SF_DIR,
        "n_queries": N_QUERIES,
        "top_k": TOP_K,
        "kmeans_k": KMEANS_K,
        "dim": DIM,
        "pq_subs_sweep": list(PQ_SUBS_SWEEP),
        "pq_sizes": list(PQ_SIZES),
        "shipped_config": {
            "pq_subs": 16,
            "pq_k": 64,
            "nprobe": 5,
            "rerank": 100,
            "reads": {
                "pq_adc_only": 0.525,
                "pq_adc_rerank": 0.925,
                "ivf_pq_rerank": 0.805,
            },
        },
        "recall_at_10": {
            "exact_l2_vs_cosine": avg(rec_metric),
            "pq_adc": {cfg_key(c): avg(v) for c, v in rec_pq.items()},
            "pq_adc_vs_exact_l2": {cfg_key(c): avg(v) for c, v in rec_pq_l2.items()},
            "ivf": {f"nprobe={n}": avg(v) for n, v in rec_ivf.items()},
            "ivf_pq": {
                f"nprobe={n},{cfg_key(c)}": avg(v)
                for (n, c), v in rec_ivfpq.items()
            },
            "pq_adc_rerank": {
                f"rerank={r},{cfg_key(c)}": avg(v)
                for (r, c), v in rec_rerank.items()
            },
            "ivf_pq_rerank": {
                f"nprobe={n},rerank={r},{cfg_key(c)}": avg(v)
                for (n, r, c), v in rec_ivfpq_rerank.items()
            },
        },
        "compression": {
            cfg_key((subs, k)): {
                "bits_per_vector": _bits(subs, k),
                "vs_float32": round(DIM * 32 / _bits(subs, k), 1),
            }
            for subs in PQ_SUBS_SWEEP
            for k in PQ_SIZES
        },
        "notes": (
            "recall@10 vs exact cosine, vec_id-asc tie-break; training = "
            "deterministic Lloyd on the sf0.01 sample (the shipped-codebook "
            "pipeline); scoring = numpy twin of the engine's oracle-pinned "
            "ADC/cosine math. IVF loss = true neighbors in unprobed cells; "
            "PQ loss = quantization; IVF-PQ = both. The r8 curve was flat "
            "in pq_k because pq_subs=4 (16 dims per code) was the binding "
            "constraint — this sweep varies the sub-quantizer count, the "
            "standard PQ recall lever."
        ),
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(artifact["recall_at_10"], indent=1))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
