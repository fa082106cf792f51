"""Per-corpus ANN serving-model resolution — the REPOINT step of the
coarse-quantizer lifecycle.

The shipped codebooks (queries/codebooks.py, trained once on the sf0.01
sample) are the right model for the gate corpora — their oracles inline
those exact literals. But a GROWN corpus owes the rule's k
(operators/ann_layout.coarse_cells): serving a 20k-vector corpus through
an 8-cell quantizer probes 5/8 of storage no matter how the layout is
pruned. The retrain recipe (tools/ann_retrain_exec.py) trains a
corpus-specific quantizer at the rule's k, rebuilds the layout BESIDE
the live one, re-certifies recall, and REPOINTS serving by writing the
model artifact under ``<repo>/.ann_models/<corpus-slug>.json``.

This module is the read side of that pointer: :func:`serving_model`
returns the corpus's CURRENT serving model — the repointed artifact when
one exists, the shipped constants otherwise. Every serving-path query
(layout build, probe-set ranking, ADC tables) resolves through it, so a
repoint changes serving for that corpus atomically (the artifact is
written tmp+rename) and changes NOTHING for any other corpus: the gate
corpora keep resolving to the shipped model and their fixed-literal
oracles stay exact.

The model file also carries the serving knobs certified with it —
``nprobe`` (the recall artifact's probe breadth, kept at the certified
nprobe/k ratio as k grows) and ``spill`` (assignment multiplicity of the
layout) — so a repoint can never silently serve an uncertified
(k, nprobe, spill) combination.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_MODEL_ROOT = os.path.join(_REPO, ".ann_models")


@dataclass(frozen=True)
class ServingModel:
    """The resolved per-corpus ANN serving configuration."""

    centroids: list  # k x dim coarse quantizer
    pq_books: list  # subs x pq_k x sub_dim product-quantizer codebooks
    pq_sub_dim: int
    nprobe: int  # probe breadth certified for this k
    spill: int  # assignment multiplicity of the serving layout
    tag: str | None  # layout-path tag (model-hash prefix); None = shipped
    source: str  # "shipped" | path of the repointed model artifact

    @property
    def k(self) -> int:
        return len(self.centroids)


def model_path(sf_dir: str) -> str:
    """Location of the repointed model artifact for ``sf_dir`` — the
    corpus-slug convention of ann_layout.cell_layout_path, under
    ``.ann_models/`` instead of ``.ann_layout/``."""
    import hashlib

    slug = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = os.path.basename(os.path.abspath(sf_dir).rstrip("/")) or "root"
    base = base.lstrip(".") or "root"
    return os.path.join(_MODEL_ROOT, f"{base}-{slug}.json")


# (path -> (mtime, ServingModel)) — the artifact is a few hundred KB of
# JSON at k=64; re-parsing it per registry call would dominate driver
# time, while an mtime key keeps a same-session repoint visible.
_CACHE: dict[str, tuple[float, ServingModel]] = {}


def serving_model(sf_dir: str) -> ServingModel:
    """The corpus's current serving model: the repointed artifact when
    one exists (retrained at the rule's k), else the shipped codebooks
    with the gate constants."""
    path = model_path(sf_dir)
    if os.path.exists(path):
        mtime = os.path.getmtime(path)
        hit = _CACHE.get(path)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        with open(path) as fh:
            meta = json.load(fh)
        from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
            model_hash,
        )

        model = ServingModel(
            centroids=meta["kmeans_centroids"],
            pq_books=meta["pq_books"],
            pq_sub_dim=int(meta["pq_sub_dim"]),
            nprobe=int(meta["nprobe"]),
            spill=int(meta["spill"]),
            tag="m"
            + model_hash(
                meta["kmeans_centroids"], meta["pq_books"], meta["pq_sub_dim"]
            )[:8],
            source=path,
        )
        _CACHE[path] = (mtime, model)
        return model
    from streaming_data_pipeline_capstone_spark.queries.ann_config import (
        NPROBE,
        PQ_SUB_DIM,
    )
    from streaming_data_pipeline_capstone_spark.queries.codebooks import (
        KMEANS_CENTROIDS,
        PQ_BOOKS,
    )

    return ServingModel(
        centroids=KMEANS_CENTROIDS,
        pq_books=PQ_BOOKS,
        pq_sub_dim=PQ_SUB_DIM,
        nprobe=NPROBE,
        spill=1,
        tag=None,
        source="shipped",
    )


def repoint_serving(sf_dir: str, model_meta: dict) -> str:
    """Atomically install ``model_meta`` as the serving model for
    ``sf_dir`` (tmp + rename — a concurrent reader sees the old model or
    the new one, never a torn file). Returns the artifact path."""
    required = {"kmeans_centroids", "pq_books", "pq_sub_dim", "nprobe", "spill"}
    missing = required - set(model_meta)
    if missing:
        raise ValueError(f"model artifact missing fields: {sorted(missing)}")
    os.makedirs(_MODEL_ROOT, exist_ok=True)
    path = model_path(sf_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(model_meta, fh)
    os.replace(tmp, path)
    _CACHE.pop(path, None)
    return path


def clear_serving_repoint(sf_dir: str) -> bool:
    """Remove a repoint (revert the corpus to the shipped model);
    returns whether one existed. The retrained layout dirs keyed by the
    model tag are left for the caller to retire."""
    path = model_path(sf_dir)
    _CACHE.pop(path, None)
    if os.path.exists(path):
        os.remove(path)
        return True
    return False
