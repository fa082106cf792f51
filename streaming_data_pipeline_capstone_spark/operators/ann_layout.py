"""Cell-partitioned ANN serving layout — storage pruning for IVF probes.

The fixed-codebook IVF / IVF-PQ probes prune COMPUTE to ~nprobe/k of the
corpus (cells outside the probe set are never scored), but their input is
the flat ``embeddings`` table, so per-query I/O stays O(n): the scan reads
every row and the cell filter drops survivors after decode. At 100 TB the
serving win is reading nprobe/k of STORAGE — which takes a layout, not a
plan: write the corpus ONCE partitioned by coarse cell (FAISS's inverted
lists, expressed as hive partitions), and a probe with a literal
``cell IN (...)`` predicate becomes a partition-pruned scan that lists and
reads only the probed directories.

This module owns that layout:

- :func:`ensure_cell_layout` writes ``<repo>/.ann_layout/<slug>/`` once per
  source corpus: vec_id + raw embedding + the 4 PQ code columns,
  ``partitionBy("cell")`` with cells assigned by the SHIPPED centroids
  (queries/codebooks.py) — the same one-exchange-on-cell write any
  partitioned ingest pays, amortized over every query thereafter. A marker
  file records the source mtime so a regenerated corpus invalidates the
  layout.
- :func:`probe_cells_py` ranks the k shipped centroids against the query
  vector driver-side. k is model metadata (8 here, ~2^16 at 100 TB) — this
  is arithmetic on constants, not a data job, and it is what makes the
  cell predicate a LITERAL the scan can prune partitions with. The fold is
  sequential left-to-right (matching Spark's aggregate/zip_with and
  DuckDB's list folds bit-for-bit), so the probe set is identical to the
  in-plan broadcast ranking the unpruned twins use.

Parity note: extends SURVEY §2.11 X3 (the reference has no ANN story);
layout + probe mirror the FAISS IVF serving shape (Johnson et al. 2017).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_LAYOUT_ROOT = os.path.join(_REPO, ".ann_layout")


def _seq_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def py_cosine(a: list[float], b: list[float]) -> float:
    """Sequential-fold cosine: the same operation sequence as the engine
    expression ``dot(a,b)/(l2_norm(a)*l2_norm(b))`` (left-to-right
    zip_with/aggregate folds), so results are bit-identical to the JVM and
    DuckDB rankings — a probe-set tie can't flip between the pruned and
    unpruned plans."""
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    return _seq_dot(a, b) / (na**0.5 * nb**0.5)


def probe_cells_py(
    query: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Top-``nprobe`` cells by cosine to the query, cell-asc tiebreak —
    driver-side arithmetic on k x dim model constants (no Spark job)."""
    ranked = sorted(
        ((py_cosine(c, query), -cell) for cell, c in enumerate(centroids)),
        reverse=True,
    )
    return [-neg for _, neg in ranked[:nprobe]]


def probe_cells_batch(
    queries: list[list[float]], centroids: list[list[float]], nprobe: int
) -> list[list[int]]:
    """Batched probe ranking: top-``nprobe`` cells per query for a Q-query
    batch — BIT-IDENTICAL to per-query :func:`probe_cells_py` (pinned in
    tests), vectorized for serving shapes (the pure-Python
    rank is fine at k=8, ~67M Python float ops per Q=32 batch at the
    100 TB-scale k≈2^16).

    The trick that preserves bit-identity: numpy's ``dot``/``sum`` use
    pairwise summation, which rounds differently from the sequential
    fold the engines (and py_cosine) use — so instead the accumulation
    loops over the DIM axis (64 iterations) doing vectorized fused
    elementwise multiply-adds over the (Q x k) plane: every scalar sees
    the exact operation sequence of the scalar fold, at numpy speed.
    Tie-break is the same (sim desc, cell asc), via lexsort."""
    import numpy as np

    Q = np.asarray(queries, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    nq, dim = Q.shape
    k = C.shape[0]
    dots = np.zeros((nq, k))
    qn = np.zeros(nq)
    cn = np.zeros(k)
    for i in range(dim):  # sequential over dim = the scalar fold's order
        dots += Q[:, i : i + 1] * C[None, :, i]
        qn += Q[:, i] * Q[:, i]
        cn += C[:, i] * C[:, i]
    sims = dots / (np.sqrt(qn)[:, None] * np.sqrt(cn)[None, :])
    cells = np.arange(k)
    out = []
    for r in range(nq):
        # lexsort: last key primary — -sims asc == sims desc, ties by cell asc
        order = np.lexsort((cells, -sims[r]))
        out.append([int(c) for c in order[:nprobe]])
    return out


# -- coarse-quantizer sizing: a RULE of corpus size, not a constant ------------
# k=8 at the fixture and k=64 in the recall rig used to be
# constants; nothing tied cell count to corpus size or said when a grown
# index must retrain. The published IVF recipe (FAISS guidelines; Johnson
# et al. 2017) sizes k so each inverted list holds a scan-friendly number
# of vectors: k ≈ 4·√n keeps lists at ~√n/4 vectors — big enough that a
# probed list is a real sequential read, small enough that nprobe/k
# pruning bites. The same √-law is what the docstring's "~2^16 at 100 TB"
# came from: n = 3e9 vectors → 4·√n ≈ 2.2e5 ≈ 2^17.7, clamped to the
# 2^16 tier.

_MIN_COARSE_CELLS = 8
_MAX_COARSE_CELLS = 1 << 16


# FAISS warns below ~39 training points per centroid — centroids trained
# thinner than that are noise, so the training sample caps k too.
_MIN_TRAIN_PER_CELL = 39


def coarse_cells(n_vectors: int, n_train: int | None = None) -> int:
    """Coarse-quantizer size for an ``n_vectors`` corpus: 4·√n rounded to
    the nearest power of two (probe fan-outs and partition counts stay
    friendly), clamped to [8, 2^16]. The gate corpora (≤50k vectors)
    resolve to small k where the shipped 8-cell codebook's tier lives;
    a 100 TB corpus (~3e9 vectors) resolves to the 2^16 cap.

    ``n_train`` (the quantizer-training sample size, when training on a
    sample rather than the corpus) caps k at the power of two keeping
    ≥ ~39 training points per centroid — FAISS's min-points warning
    threshold; a k the sample can't populate trains noise centroids and
    the recall certificate would certify nothing. The cap applies AFTER
    the [8, 2^16] clamp (ADVICE r14): a sample too thin to populate even
    the minimum fan-out (n_train < ~312) returns k < 8 honestly — the
    FAISS floor wins over the fan-out floor, never silently violated."""
    import math

    if n_vectors <= 0:
        return _MIN_COARSE_CELLS
    raw = 4.0 * math.sqrt(n_vectors)
    k = 1 << max(0, round(math.log2(raw)))
    k = min(_MAX_COARSE_CELLS, max(_MIN_COARSE_CELLS, k))
    if n_train is not None and n_train > 0:
        cap = 1 << max(0, int(math.log2(max(1, n_train / _MIN_TRAIN_PER_CELL))))
        k = min(k, cap)
    return k


def coarse_retrain_due(
    current_k: int, n_vectors: int, n_train: int | None = None
) -> bool:
    """When a GROWN corpus must retrain its coarse quantizer: once the
    rule's k for the current size reaches 2x the trained k (a decade of
    growth under the √-law is ~3.2x in k, so this fires mid-decade).
    ``n_train`` caps the rule's k like :func:`coarse_cells` — a k the
    training sample can't populate is not a reason to retrain.
    Retraining is rebuild-as-compaction: retrain centroids
    (tools/train_codebooks.py), rebuild the layout, re-run
    tools/ann_recall.py and record the recall artifact before serving —
    the probe set of the old quantizer is meaningless under new
    centroids, so the swap is atomic (build beside, then repoint), never
    in place."""
    return coarse_cells(n_vectors, n_train) >= 2 * current_k


# Layout schema version: bump when the stored column set changes so stale
# layouts rebuild once. v2 (r13): embeddings metadata columns (e.g.
# label) are stored in-layout for predicate-filtered ANN.
_LAYOUT_SCHEMA_VERSION = 2


def cell_layout_path(
    sf_dir: str, spill: int = 1, model_tag: str | None = None
) -> str:
    slug = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = os.path.basename(os.path.abspath(sf_dir).rstrip("/")) or "root"
    # a leading dot (e.g. the .sf1 scale corpus) would make the layout dir
    # HIDDEN to Spark's file index — explicitly-passed root paths still
    # read today, but with a "All paths were ignored" WARN and on
    # version-fragile behavior; keep the leaf name visible
    base = base.lstrip(".") or "root"
    sfx = f"-spill{spill}" if spill > 1 else ""
    # model_tag keys a RETRAINED model's layout to a distinct path, so
    # the retrain recipe builds BESIDE the live layout and the repoint is
    # an atomic pointer flip, never an in-place overwrite of a directory
    # concurrent probes may be reading
    tag = f"-{model_tag}" if model_tag else ""
    return os.path.join(_LAYOUT_ROOT, f"{base}-{slug}{tag}{sfx}")


def _model_hash(
    centroids: list[list[float]],
    pq_books: list[list[list[float]]],
    pq_sub_dim: int,
) -> str:
    """Content hash of the codebook artifacts baked into the layout. The
    layout stores cell assignments AND PQ codes computed from these
    constants; if the shipped model is retrained, a layout keyed only on
    source mtime would be silently reused while probe_cells_py ranks with
    the NEW centroids — the pruned probes would diverge from their
    full-scan twins. Hash mismatch forces a rebuild."""
    payload = json.dumps(
        {"centroids": centroids, "pq_books": pq_books, "pq_sub_dim": pq_sub_dim},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def _source_mtime(sf_dir: str) -> float:
    src = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(src):  # chunked corpus: newest chunk
        return max(
            (os.path.getmtime(os.path.join(src, f)) for f in os.listdir(src)),
            default=os.path.getmtime(src),
        )
    return os.path.getmtime(src)


# Expression-based encode (assign_cells / pq_encode_cols as Column
# trees) is the right shape at gate k: whole-stage codegen fuses it into
# the scan, zero Python. But the Column tree grows O(k·dim): at the
# rule's k for grown corpora (64, 128, ... 2^16) the generated method
# blows Janino's JIT budget and Spark silently falls back to interpreted
# per-row evaluation — measured as a 30+-minute straggler encoding 15k
# rows at k=128 that numpy does in milliseconds. Above this threshold
# the layout build switches to an Arrow-batched mapInPandas encode whose
# arithmetic is the BIT-IDENTICAL numpy twin of the scalar fold
# (accumulate over the dim axis so every scalar sees the same sequential
# rounding; stable argsort reproduces the first-min / cell-asc
# tie-breaks) — pinned against the expression path in tests.
_PANDAS_ENCODE_MIN_K = 32


def _encode_batches(
    schema_fields: list[str],
    centroids: list[list[float]],
    pq_books: list[list[list[float]]],
    pq_sub_dim: int,
    spill: int,
):
    """mapInPandas encoder: adds c0..c{S-1} + cell to each Arrow batch
    (rows duplicated per spilled assignment when spill > 1)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in pq_books]

    def seq_sq_dists(X: np.ndarray, cents: np.ndarray) -> np.ndarray:
        # left-to-right fold over the dim axis — the exact operation
        # sequence of the zip_with/aggregate expression, so borderline
        # ties cannot flip between the two encoders
        acc = np.zeros((X.shape[0], cents.shape[0]))
        for d in range(cents.shape[1]):
            diff = X[:, d, None] - cents[None, :, d]
            acc = acc + diff * diff
        return acc

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = pdf.copy()
            for s, book in enumerate(books):
                sub = X[:, s * pq_sub_dim : (s + 1) * pq_sub_dim]
                # np.argmin returns the FIRST minimum — assign_cells's
                # array_position(dists, array_min(dists)) tie-break
                out[f"c{s}"] = np.argmin(
                    seq_sq_dists(sub, book), axis=1
                ).astype("int32")
            d = seq_sq_dists(X, C)
            if spill > 1:
                # stable sort on dist == (dist asc, cell asc): the
                # assign_cells_topn struct-sort tie-break
                order = np.argsort(d, axis=1, kind="stable")[:, :spill]
                rep = out.loc[out.index.repeat(spill)].reset_index(drop=True)
                rep["cell"] = order.reshape(-1).astype("int32")
                yield rep[schema_fields]
            else:
                out["cell"] = np.argmin(d, axis=1).astype("int32")
                yield out[schema_fields]

    return fn


def ensure_cell_layout(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[float]],
    pq_books: list[list[list[float]]],
    pq_sub_dim: int,
    spill: int = 1,
    model_tag: str | None = None,
) -> str:
    """Write (once) and return the cell-partitioned serving layout for the
    embeddings at ``sf_dir``: columns vec_id, embedding, c0..c{S-1},
    hive-partitioned by the coarse cell. Idempotent: a marker records the
    source mtime; the layout is rebuilt only if missing or stale.
    ``model_tag`` routes a retrained model's layout to its own path (see
    cell_layout_path) so a retrain builds beside the live layout.

    ``spill > 1`` writes the SPILLED layout (ScaNN-style
    multi-assignment): each vector is stored in its ``spill`` nearest
    cells, so a probe that misses a neighbor's first cell can still find
    it in its second — the measured fix for the single-assignment recall
    ceiling on isotropic corpora (ANN_RECALL_r11.json: ivf_exact 0.75 ->
    0.915 at nprobe/k = 0.25). Costs ``spill`` x the code bytes; the
    probed FRACTION of stored rows is unchanged. Spilled layouts live
    beside the spill-1 layout under a ``-spill{n}`` suffix."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells,
        assign_cells_topn,
        pq_encode_cols,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    out = cell_layout_path(sf_dir, spill, model_tag)
    marker = os.path.join(out, "_LAYOUT_META.json")
    src_mtime = _source_mtime(sf_dir)
    model_hash = _model_hash(centroids, pq_books, pq_sub_dim)
    if os.path.exists(marker):
        with open(marker) as fh:
            meta = json.load(fh)
        if (
            meta.get("source_mtime") == src_mtime
            and meta.get("model_hash") == model_hash
            and meta.get("spill", 1) == spill
            and meta.get("schema_version") == _LAYOUT_SCHEMA_VERSION
        ):
            return out
    # The coarse-assignment + PQ-encode projection runs in the SCAN
    # stage, so its parallelism is the input SPLIT count — and the
    # expression is k x dim x spill heavy (seconds/MB at k=128), not
    # IO-bound. A compact corpus in a few parquet files would hand one
    # task the whole encode (measured: a 51 MB file = 1 task = a
    # 30-minute straggler at k=128/spill=2). Narrow splits re-match
    # split size to COMPUTE density without adding an exchange; restored
    # after the build. At production file counts this is moot — but the
    # knob is scale-neutral (metadata only).
    _prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
    try:
        return _build_cell_layout(
            spark, sf_dir, centroids, pq_books, pq_sub_dim, spill, out,
            marker, src_mtime, model_hash,
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", _prev_split)


def _build_cell_layout(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[float]],
    pq_books: list[list[list[float]]],
    pq_sub_dim: int,
    spill: int,
    out: str,
    marker: str,
    src_mtime: float,
    model_hash: str,
) -> str:
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells,
        assign_cells_topn,
        pq_encode_cols,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    # metadata columns (e.g. label) ride IN the layout: filtered ANN
    # evaluates its predicate inside the pruned codes scan (row-group
    # filter under the partition prune) instead of joining a
    # corpus-sized id->metadata map at serving time
    meta_cols = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    if len(centroids) >= _PANDAS_ENCODE_MIN_K:
        # rule-k regime: Arrow-batched numpy encode (see the threshold
        # note above — the Column tree would fall out of codegen here)
        fields = (
            ["vec_id", "embedding"]
            + meta_cols
            + [f"c{s}" for s in range(len(pq_books))]
            + ["cell"]
        )
        base = emb.select("vec_id", "embedding", *meta_cols)
        schema = ", ".join(
            [base.schema[c].simpleString().replace(":", " ", 1) for c in ("vec_id", "embedding")]
            + [base.schema[c].simpleString().replace(":", " ", 1) for c in meta_cols]
            + [f"c{s} int" for s in range(len(pq_books))]
            + ["cell int"]
        )
        assigned = base.mapInPandas(
            _encode_batches(fields, centroids, pq_books, pq_sub_dim, spill),
            schema=schema,
        )
    elif spill > 1:
        vecs = emb.select(
            "vec_id",
            "embedding",
            *meta_cols,
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        assigned = vecs.select(
            "vec_id",
            "embedding",
            *meta_cols,
            *pq_encode_cols(F.col("v"), pq_books, pq_sub_dim),
            F.explode(assign_cells_topn(F.col("v"), centroids, spill)).alias(
                "cell"
            ),
        )
    else:
        vecs = emb.select(
            "vec_id",
            "embedding",
            *meta_cols,
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        assigned = vecs.select(
            "vec_id",
            "embedding",
            *meta_cols,
            *pq_encode_cols(F.col("v"), pq_books, pq_sub_dim),
            assign_cells(F.col("v"), centroids).alias("cell"),
        )
    (
        assigned
        .repartition("cell")  # one exchange on cell: one writer per cell dir
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out)
    )
    with open(marker, "w") as fh:
        json.dump(
            {
                "source_mtime": src_mtime,
                "model_hash": model_hash,
                "spill": spill,
                "schema_version": _LAYOUT_SCHEMA_VERSION,
                "sf_dir": os.path.abspath(sf_dir),
            },
            fh,
        )
    return out


def read_cell_layout(
    spark: SparkSession, layout_path: str, subs: int | None = None
) -> DataFrame:
    """Open a serving layout for a probe.

    With ``subs`` (the serving model's sub-quantizer count) the read
    declares the layout schema EXPLICITLY instead of inferring it —
    schema inference on a hive-partitioned layout is a driver job that
    lists every partition directory and reads parquet footers (measured
    1.0 s per open at sf0.1; every probe opens the layout twice, codes
    scan + raw fetch, so inference alone cost ~2 s per serving query).
    The schema is fixed by the layout contract (_build_cell_layout /
    encode_for_layout): vec_id, embedding, label (schema v2), c0..c{S-1},
    partitioned by cell with an optional epoch sublevel (incremental /
    streamed indexes). Epoch presence is resolved with ONE Hadoop
    globStatus on the layout root's first level — the same bounded
    listing convention as the streaming state indexes
    (dedup_stream._existing_bucket_paths); remote schemes work.

    Without ``subs`` this falls back to plain inference (schema-agnostic
    callers: compaction, file tools).
    """
    from pyspark.sql import types as T

    if subs is None:
        return spark.read.parquet(layout_path)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(layout_path)
    fs = root.getFileSystem(conf)
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{layout_path}/cell=*/epoch=*")
    )
    with_epoch = bool(statuses) and len(statuses) > 0
    fields = [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
    fields += [
        T.StructField(f"c{s}", T.IntegerType(), True) for s in range(subs)
    ]
    fields.append(T.StructField("cell", T.IntegerType(), True))
    if with_epoch:
        fields.append(T.StructField("epoch", T.IntegerType(), True))
    return spark.read.schema(T.StructType(fields)).parquet(layout_path)


def encode_for_layout(
    vecs_df: DataFrame,
    centroids: list[list[float]],
    pq_books: list[list[list[float]]],
    pq_sub_dim: int,
) -> DataFrame:
    """Assign + PQ-encode a (vec_id, embedding, meta...) frame into the
    layout schema (vec_id, embedding, meta..., c0..c{S-1}, cell) — the
    shared projection of the full build and the incremental append.
    Switches to the Arrow-batched numpy encoder at rule-k sizes, same as
    the full build (see _PANDAS_ENCODE_MIN_K; bit-identical, pinned)."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells,
        pq_encode_cols,
    )

    meta_cols = [c for c in vecs_df.columns if c not in ("vec_id", "embedding")]
    if len(centroids) >= _PANDAS_ENCODE_MIN_K:
        fields = (
            ["vec_id", "embedding"]
            + meta_cols
            + [f"c{s}" for s in range(len(pq_books))]
            + ["cell"]
        )
        base = vecs_df.select("vec_id", "embedding", *meta_cols)
        schema = ", ".join(
            [
                base.schema[c].simpleString().replace(":", " ", 1)
                for c in ["vec_id", "embedding"] + meta_cols
            ]
            + [f"c{s} int" for s in range(len(pq_books))]
            + ["cell int"]
        )
        return base.mapInPandas(
            _encode_batches(fields, centroids, pq_books, pq_sub_dim, 1),
            schema=schema,
        )
    v = F.transform("embedding", lambda x: x.cast("double"))
    return vecs_df.select(
        "vec_id",
        "embedding",
        *meta_cols,
        *pq_encode_cols(v, pq_books, pq_sub_dim),
        assign_cells(v, centroids).alias("cell"),
    )


def append_cell_epoch(
    spark: SparkSession,
    vecs_df: DataFrame,
    path: str,
    centroids: list[list[float]],
    pq_books: list[list[list[float]]],
    pq_sub_dim: int,
    epoch_id: int,
) -> None:
    """Incremental ANN index maintenance: encode ONLY the new vectors and
    land them under ``<path>/cell=<c>/epoch=<e>/`` with dynamic-partition
    overwrite — the same idempotent-epoch recipe as the streaming state
    indexes (streaming/dedup_stream.write_epoch_idempotent), applied to
    the serving layout. A replayed batch overwrites exactly its own
    (cell, epoch) partitions, so at-least-once delivery stays
    effectively-once storage; probes keep pruning on the LEADING cell
    level and simply see every epoch of the probed cells (the
    main-index + delta-segments refresh pattern — FAISS/Lucene style —
    with rebuild-as-compaction: rewrite all epochs into a sentinel the
    way compact_index does for the dedup indexes). Work is Θ(new
    vectors): the existing index is never read or rewritten.
    """
    encoded = encode_for_layout(vecs_df, centroids, pq_books, pq_sub_dim)
    (
        encoded.withColumn("epoch", F.lit(int(epoch_id)))
        .repartition("cell")  # one file per (cell, epoch)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "epoch")
        .parquet(path)
    )


# -- compaction trigger: a RULE, not a manual step -----------------------------
# Every epoch append adds ~1 file per touched cell/bucket, so probe cost
# gains a fixed per-file term (listing + footer + dictionary reads) on
# top of the data. The data per (cell, epoch) file is ~batch/fanout rows;
# once a cell holds more epoch-files than one batch's rows amortize, the
# fixed term dominates (the measured fan-out-4096 cliff in
# BENCH_stream_curation_scale_r13.json). The rule: compact when the
# max epoch-file count per cell crosses MAX_EPOCH_FILES — the point
# where per-file overhead ≈ the data read at gate file sizes, re-measured
# in BENCH_stream_compaction_r14.json. Compaction collapses all epochs
# into the sentinel epoch=-1 (no real micro-batch id collides), keeping
# the layout shape so later appends stay idempotent. Run it from a
# maintenance window (stream stopped / drain complete), like
# dedup_stream.compact_index.

MAX_EPOCH_FILES = 16


def max_files_per_partition(path: str, prefix: str) -> int:
    """Max parquet-file count under any one ``<prefix>=<v>`` partition
    directory of ``path`` — the quantity the compaction rules threshold.
    One listing of the layout tree, bounded by partitions x epochs
    (directory metadata, not data).

    Listed through the Hadoop FileSystem API when a SparkSession is
    active (ADVICE r14: the read path deliberately globs through Hadoop
    so remote schemes work — a trigger that walked the LOCAL filesystem
    would silently read 0 files on a remote index and never fire);
    without an active session it falls back to ``os.walk`` (local-only
    callers, e.g. unit fixtures before Spark starts)."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        worst = 0
        if not os.path.isdir(path):
            return 0
        for pdir in os.listdir(path):
            full = os.path.join(path, pdir)
            if not (pdir.startswith(prefix + "=") and os.path.isdir(full)):
                continue
            n = 0
            for _root, _dirs, files in os.walk(full):
                n += sum(f.endswith(".parquet") for f in files)
            worst = max(worst, n)
        return worst
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return 0
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{path}/{prefix}=*")
    )
    worst = 0
    for st in statuses or []:
        if not st.isDirectory():
            continue
        n = 0
        it = fs.listFiles(st.getPath(), True)  # recursive
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        worst = max(worst, n)
    return worst


def epoch_files_per_cell(path: str) -> int:
    """Max parquet-file count under any one cell's epoch partitions —
    the quantity the ANN compaction rule thresholds (see
    :func:`max_files_per_partition` for the listing contract)."""
    return max_files_per_partition(path, "cell")


def ann_compaction_due(path: str, max_epoch_files: int = MAX_EPOCH_FILES) -> bool:
    return epoch_files_per_cell(path) > max_epoch_files


def compact_cell_epochs(
    spark: SparkSession, path: str, partitions: int = 32
) -> None:
    """Collapse every epoch of an epoch-partitioned serving layout into
    the sentinel ``epoch=-1`` — rebuild-as-compaction for the ANN index.
    Probes are unchanged (they prune on the leading cell level and read
    whatever epochs exist); a probe answers identically before and after
    (pinned in tests). ONLY run with ingest stopped and its checkpoint
    committed, same contract as dedup_stream.compact_index.

    Any top-level ``_*.json`` marker files living inside the layout dir
    (e.g. ``_INCR_META.json`` for the incremental layout, or the
    ``_LAYOUT_META.json`` convention) are preserved across the rewrite
    (ADVICE r14): the static overwrite deletes everything under ``path``,
    and a lost marker would make the next ``_incr_layout`` open see an
    unmarked layout and discard the just-compacted index with a full
    rebuild — compaction undone, the work wasted."""
    markers: dict[str, bytes] = {}
    if os.path.isdir(path):
        for name in os.listdir(path):
            full = os.path.join(path, name)
            if name.startswith("_") and name.endswith(".json") and os.path.isfile(full):
                with open(full, "rb") as fh:
                    markers[name] = fh.read()
    df = spark.read.parquet(path).drop("epoch")
    tmp = path + "__compacting"
    (
        df.repartition(partitions, "cell")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    (
        spark.read.parquet(tmp)
        .withColumn("epoch", F.lit(-1))
        .repartition("cell")  # one file per cell after compaction
        .write.mode("overwrite")
        .partitionBy("cell", "epoch")
        .parquet(path)
    )
    for name, blob in markers.items():
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(blob)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
