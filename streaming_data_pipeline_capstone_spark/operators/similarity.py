"""Similarity search over embedding columns (driver mandate X3).

Two paths:

- brute-force cosine top-k — the exactness baseline. Dot products are
  native array expressions (zip_with + aggregate), computed in float64
  left-to-right so results are bit-reproducible across engines. One scan,
  one TakeOrderedAndProject — no shuffle beyond the top-k reduction.
- random-hyperplane LSH — the 100 TB path. Vectors bucket by the sign
  pattern of d dot products with deterministic pseudo-random planes
  (plane[j][i] = 2·frac(sin(j·1009 + i)·43758.5453) − 1, portable to any
  SQL engine — see hyperplane_signature for why the fract-hash step is
  load-bearing); the pairwise work then happens only inside buckets.
  Candidates are verified with exact cosine. Banded OR-amplification
  (num_bands > 1) raises recall from p^planes to 1−(1−p^planes)^bands.

At real scale the LSH variant's bucket join shuffles on the 2^d-ary
signature — skew-free for isotropic embeddings — and each bucket fits in
an executor; brute-force against a FIXED query set stays a broadcast of
the queries over one scan of the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — left-to-right fold, deterministic order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 20,
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The query is a literal array (broadcast by construction); ordering
    uses the rounded score with the id as tiebreak so ranking is
    deterministic at float noise level.
    """
    q = lit_double_array(query_vec)
    scored = corpus.select(
        F.col("vec_id"),
        F.round(cosine(_as_double("embedding"), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(k)


def _plane_component(j: int, i: int) -> Column:
    """One plane coefficient as the canonical engine expression."""
    s = F.sin(F.lit(float(j * 1009 + i))) * F.lit(43758.5453)
    return (s - F.floor(s)) * 2.0 - 1.0


def _plane_hof(j: int, dim: int) -> Column:
    """Whole plane j as ONE small transform-over-sequence expression.

    Evaluates exactly the same doubles as ``_plane_component`` (the sin
    argument j·1009 + i is an exact integer double either way; verified
    bit-equal in tests) but the Catalyst tree is ~15 nodes instead of
    dim×8 — the sin calls move from plan-construction/folding time to a
    single-row runtime evaluation.
    """

    def comp(i: Column) -> Column:
        s = F.sin(F.lit(float(j * 1009)) + i.cast("double")) * F.lit(43758.5453)
        return (s - F.floor(s)) * 2.0 - 1.0

    return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), comp)


# (plane_index, dim) -> the dim engine-evaluated coefficients. Populated by
# materialize_planes; lives for the Python process (planes are seedless
# constants, so staleness is impossible).
_PLANE_CACHE: dict[tuple[int, int], list[float]] = {}


def materialize_planes(spark, plane_ids: list[int], dim: int) -> list[list[float]]:
    """Evaluate the plane constants ONCE via a one-row Spark query.

    The sin/fract expressions are pure constants, but leaving them inline
    makes every *launch* of a banded-LSH query pay Catalyst tree
    construction + constant folding for bands×planes×dim sin-trees —
    measured 35 s per run at 16 bands × 4 planes × 64 dims, independent of
    data size. Evaluating them through the engine (not Python's math.sin,
    which may differ from JVM sin in the last ulp) keeps the resulting
    float literals byte-identical to what the inline expressions would
    have produced, so bucket membership — and therefore the oracle hashes
    and the recall gate — cannot shift.
    """
    missing = [j for j in dict.fromkeys(plane_ids) if (j, dim) not in _PLANE_CACHE]
    if missing:
        row = spark.range(1).select(
            *[_plane_hof(j, dim).alias(f"p{j}") for j in missing]
        ).head()
        for j in missing:
            _PLANE_CACHE[(j, dim)] = [float(x) for x in row[f"p{j}"]]
    return [_PLANE_CACHE[(j, dim)] for j in plane_ids]


def hyperplane_signature(
    vec: Column | str,
    num_planes: int = 8,
    dim: int = 64,
    planes: list[list[float]] | None = None,
) -> Column:
    """LSH bucket id: sign bits of dot products with deterministic planes.

    plane[j][i] = 2·frac(sin(j·1009 + i)·43758.5453) − 1 — fixed,
    seedless, identical in every engine and run. The fract-hash step
    matters: raw sin(j·1009 + i) planes are all phase shifts of ONE
    sinusoid, so every plane lies in span{sin(i), cos(i)} — a 2-D shadow
    of the embedding space — and band recall saturates no matter how many
    bands you add (caught by the recall gate in tests/test_llm_ops.py).
    Multiplying into the 4e4 range and taking the fractional part
    decorrelates components, giving ~iid uniform(−1,1) planes. Returns a
    bit-string like '01101001', from planes 0..num_planes-1.

    Pass ``planes`` (from :func:`materialize_planes`, engine-evaluated so
    values are identical) to build the signature from plain float
    literals instead of per-coefficient sin trees — same result, ~10×
    cheaper plan construction, the difference between a 35 s and a 3 s
    launch for the 16-band variant. When ``planes`` is given it must
    hold exactly ``num_planes`` planes.
    """
    v = _as_double(vec)
    if planes is None:
        plane_cols = [
            F.array(*[_plane_component(j, i) for i in range(dim)])
            for j in range(num_planes)
        ]
    else:
        if len(planes) != num_planes:
            raise ValueError(
                f"planes must contain exactly num_planes={num_planes} "
                f"planes (got {len(planes)})"
            )
        # one Literal node per plane + ONE transform over the plane
        # matrix, not num_planes separate dot subtrees: the corpus-scaled
        # banded config reaches hundreds of planes (7×66 at 200k vectors),
        # so Column-tree size sets the launch cost. Arithmetic unchanged —
        # dot() is the same left-to-right zip_with/aggregate fold per
        # plane, and array_join of the per-plane bit chars equals the
        # previous concat().
        mat = lit_double_matrix(planes)
        dots = F.transform(mat, lambda pl: dot(v, pl))
        return F.array_join(
            F.transform(dots, lambda d: F.when(d > 0, F.lit("1")).otherwise(F.lit("0"))),
            "",
        )
    bits = [
        F.when(dot(v, plane) > 0, F.lit("1")).otherwise(F.lit("0"))
        for plane in plane_cols
    ]
    return F.concat(*bits)


# banded_lsh_config's targets: the sf1-proven bucket occupancy, and the
# per-pair recall at the threshold
OCC_TARGET = 1250
RECALL_TARGET = 0.93


def banded_lsh_config(
    n: int,
    threshold: float = 0.4,
) -> tuple[int, int]:
    """Corpus-scaled banded-LSH parameters: (planes_per_band, num_bands).

    The two knobs trade against each other, so a fixed config only fits
    one corpus size:

    - ``planes_per_band`` controls expected bucket occupancy n/2^planes.
      Occupancy is what must stay bounded at scale — the in-bucket verify
      is a GEMM, O(occ² · dim) per bucket, and a bucket must fit one
      executor task. The rule holds occupancy at ``OCC_TARGET``:
      planes = max(4, round(log2(n / OCC_TARGET))).
    - ``num_bands`` then restores recall: a pair exactly at ``threshold``
      collides per-band with probability p^planes (p = 1 − acos(t)/π for
      hyperplane LSH), so bands = ceil(ln(1−R) / ln(1−p^planes)) gives
      1−(1−p^planes)^bands ≥ R. Recall is a per-pair probability —
      independent of corpus size — which is why it can be certified at a
      small SF and holds at any n.

    At the correctness gate's sf0.01 (and sf0.1 / sf1) the rule resolves
    to the proven (4, 16); at sf10's 200k vectors it scales to (7, 66).
    Asymptotics are the textbook LSH trade: per-band work n·occ (linear),
    bands ∝ (n/occ)^(−log2 p), total n^(1−log2 p) ≈ n^1.67 at this
    deliberately-low 0.4 threshold (p≈0.63). At real near-dup thresholds
    the same rule is near-linear — e.g. t=0.9 has p≈0.86, bands grow
    only as (n/occ)^0.22, total ≈ n^1.22 — and the knob's actual job at
    100 TB is bounding bucket size so no task OOMs and no straggler
    dominates, which it does for any n by construction.
    """
    p = 1.0 - math.acos(threshold) / math.pi
    planes = max(4, round(math.log2(max(n, 1) / OCC_TARGET)))
    per_band = p**planes
    bands = max(1, math.ceil(math.log(1.0 - RECALL_TARGET) / math.log(1.0 - per_band)))
    return planes, bands


def vector_elem_bytes(df: DataFrame) -> int:
    """Bytes per vector component as the tagged exchange will ship it: the
    exchange carries ``embedding`` in its SOURCE type, so array<double>
    corpora pay 8 bytes/component, not the float32 default."""
    elem = df.schema["embedding"].dataType.elementType.simpleString()
    return 8 if elem == "double" else 4


PEAK_SHUFFLE_BYTES = 8 << 30


def banded_lsh_band_batch(
    n: int,
    num_bands: int,
    dim: int = 64,
    elem_bytes: int = 4,
) -> int | None:
    """Band-batch size bounding the banded shuffle's peak disk footprint.

    The tagged exchange carries ~(elem_bytes·dim vector + bands sig-prefix
    + ~48 key/overhead) bytes per row and n×bands rows; when that total
    exceeds ``PEAK_SHUFFLE_BYTES`` the bands are processed in sequential groups of
    the returned size (None = single job). ``elem_bytes`` must match the
    corpus's array element type (use :func:`vector_elem_bytes`) — a
    double-typed corpus ships 2× the float32 payload, and sizing with 4
    would let the real peak run ~2× past the target. The 8 GiB bound keeps
    the sandbox's disk headroom comfortable; at cluster scale the same
    rule is "peak = a small multiple of the corpus", the knob that makes
    bands a throughput factor instead of a disk-capacity factor."""
    row_bytes = elem_bytes * dim + num_bands + 48
    if n * num_bands * row_bytes <= PEAK_SHUFFLE_BYTES:
        return None
    return max(1, int(PEAK_SHUFFLE_BYTES // max(n * row_bytes, 1)))


def _pairs_within(pdf, threshold: float):
    """All (id1 < id2) cosine ≥ threshold pairs inside one pandas group,
    via a normalized GEMM in row blocks.

    Blocked because bucket size is data-dependent, not rule-bounded: the
    occupancy rule holds the EXPECTED bucket at ~OCC_TARGET, but clustered
    corpora (e.g. many near-copies of a base document sharing every sign
    bit) concentrate into hot buckets 10–40× that. A full m×m similarity
    matrix plus triu index arrays is O(m²) memory — at m≈50k that's tens
    of GB in one task (measured: the sf10 banded-scaled leg sat in a
    single-straggler stage for 25+ minutes, GC-bound). Row blocks sized to
    ~256 MB keep the same O(m²) flops (cheap — the GEMM itself is seconds)
    but O(block×m) memory, so a hot bucket degrades smoothly instead of
    stalling the stage. Pair set and 6-dp scores are unchanged: same
    round-then-compare, same global j>i triangle."""
    return _blocked_pairs(pdf, threshold, prefixes=None)


def _make_first_band_verify(threshold: float, num_bands: int, sig_dtype: str):
    """Blocked verify with first-match-band suppression: a pair is
    emitted only if its two members' band signatures BEFORE this bucket's
    band disagree everywhere — i.e. this is the first band that put them
    in one bucket. Union over bands = exactly one emission per qualifying
    candidate pair, no distinct() needed."""

    def verify(pdf):
        import numpy as np

        b = int(pdf["band"].iloc[0]) if len(pdf) else 0
        prefixes = None
        if b:
            all_sigs = np.frombuffer(
                b"".join(pdf["sigs"].to_numpy()), dtype=sig_dtype
            ).reshape(len(pdf), num_bands)
            prefixes = all_sigs[:, :b]
        return _blocked_pairs(pdf, threshold, prefixes=prefixes)

    return verify


def _blocked_pairs(pdf, threshold: float, prefixes):
    import numpy as np
    import pandas as pd

    ids = pdf["vid"].to_numpy()
    m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
    x = m / norms
    n = len(ids)
    block = max(128, (32 << 20) // max(n, 1))  # ~256 MB of float64 sims
    cols = np.arange(n)
    id1_parts, id2_parts, s_parts = [], [], []
    for i0 in range(0, n, block):
        i1 = min(i0 + block, n)
        sims = x[i0:i1] @ x.T
        # pre-filter with a half-ulp-of-rounding guard, round only the
        # survivors: round-then-compare semantics unchanged, per-element
        # rounding cost drops from occ² to the qualifying count
        mask = (sims >= threshold - 1e-6) & (cols[None, :] > np.arange(i0, i1)[:, None])
        ri, ci = np.nonzero(mask)
        s = np.round(sims[ri, ci], 6)
        keep = s >= threshold
        if prefixes is not None:
            keep &= ~(prefixes[ri + i0] == prefixes[ci]).any(axis=1)
        ri, ci, s = ri[keep], ci[keep], s[keep]
        gi, gj = ids[ri + i0], ids[ci]
        id1_parts.append(np.minimum(gi, gj))
        id2_parts.append(np.maximum(gi, gj))
        s_parts.append(s)
    if not id1_parts:
        return pd.DataFrame({"id1": ids[:0], "id2": ids[:0], "cosine_sim": np.array([], dtype=np.float64)})
    return pd.DataFrame(
        {
            "id1": np.concatenate(id1_parts),
            "id2": np.concatenate(id2_parts),
            "cosine_sim": np.concatenate(s_parts),
        }
    )


_PAIR_SCHEMA = "id1 long, id2 long, cosine_sim double"


def lsh_similar_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    num_planes: int = 8,
    dim: int = 64,
    num_bands: int = 1,
    band_batch: int | None = None,
) -> DataFrame:
    """All (id1 < id2) pairs with cosine ≥ threshold, found via hyperplane
    buckets and verified exactly.

    One shuffle keyed on the signature; each bucket's pairwise work is a
    single numpy GEMM in applyInPandas (vs the naive bucket self-join,
    which evaluates the signature pipeline twice and scores pair-at-a-time
    through interpreted array expressions — measured 17 s → 1 s at sf0.1).

    ``num_bands > 1`` turns on OR-amplification (the MinHash-LSH band
    trick applied to hyperplanes): each band hashes with its own disjoint
    ``num_planes`` planes and a pair is a candidate if ANY band agrees.
    Collision probability for a pair at angular similarity p rises from
    p^planes to 1-(1-p^planes)^bands — the knob that buys recall without
    widening buckets. Data replication is bands×; pairs found by several
    bands collapse in one distinct() (cosine is deterministic per pair,
    so the 3-column distinct is exact). tests/test_llm_ops.py pins the
    measured recall vs brute_force_pairs.

    ``band_batch`` bounds PEAK SHUFFLE DISK (round 8): the one-shuffle
    plan writes bands× the corpus bytes (each tagged row carries the raw
    vector), which at 2M vectors × 65 bands transiently spilled past the
    sandbox's 79 GB free disk — and at 100 TB would mean a bands×100 TB
    shuffle no cluster runs as one job. With ``band_batch = g`` the bands
    are processed in ceil(bands/g) SEQUENTIAL jobs, each shuffling only
    n×g rows, with each group's pair output materialized to a scratch
    parquet before the next group starts (so shuffle files of finished
    groups can be reclaimed). No cross-group dedup is needed — the
    first-match-band rule tests the pair's GLOBAL signature prefix
    (every band before this one, regardless of group), so group outputs
    are disjoint by construction and their union is row-identical to the
    single-job plan. Total shuffle I/O is unchanged; only the peak is
    divided. Signature tagging recomputes the full GEMM per group — a
    few extra GFLOPs, milliseconds against the shuffle it bounds.
    """
    all_planes = materialize_planes(
        corpus.sparkSession, list(range(num_bands * num_planes)), dim
    )
    if num_bands == 1:
        tagged = corpus.select(
            F.col("vec_id").alias("vid"),
            _as_double("embedding").alias("v"),
            hyperplane_signature("embedding", num_planes, dim, planes=all_planes).alias("sig"),
        )
        return tagged.groupBy("sig").applyInPandas(
            lambda pdf: _pairs_within(pdf, threshold), _PAIR_SCHEMA
        )
    # Two scale lessons are baked into this path (both measured at sf10,
    # 200k vectors, the (7, 66) corpus-scaled config):
    #
    # 1. Signatures come from ONE Arrow-batched GEMM, not per-plane
    #    Column folds. bands×planes dot products per vector through
    #    interpreted higher-order functions (zip_with + aggregate run
    #    without codegen) cost ~10 minutes at sf10 for what is a 6-GFLOP
    #    matrix multiply — X @ Pᵀ > 0 in mapInPandas does it in
    #    milliseconds per batch. Sign-at-zero is the only place numpy's
    #    summation order could disagree with a sequential fold (the same
    #    epsilon the DuckDB oracle's list_sum already tolerates vs the
    #    JVM); no fixture dot sits at that boundary.
    #
    # 2. FIRST-MATCH-BAND emission instead of emit-everywhere +
    #    distinct(). OR-amplification re-verifies and re-emits every
    #    qualifying pair in EVERY band whose signatures agree — on
    #    near-duplicate-heavy corpora (the LLM-dedup case) that
    #    redundancy factor approaches num_bands (measured: ~550M emitted
    #    rows collapsing to ~19M distinct; the distinct exchange, not the
    #    GEMM, dominated wall-clock). Each tagged row instead carries the
    #    PREFIX of its band-signature array, and the in-bucket verify
    #    emits a pair only if no earlier band already matched — exactly
    #    one emission per qualifying pair, row-identical to the old
    #    distinct() output (cosine is deterministic per pair), and the
    #    post-shuffle disappears.
    #
    # The exchange carries the raw float32 vector (in-bucket
    # float32→float64 widening is exact) plus an average bands/2-long
    # prefix.
    import numpy as np
    import pandas as pd

    plane_mat = np.asarray(all_planes, dtype=np.float64)  # (bands*planes, dim)
    weights = (1 << np.arange(num_planes, dtype=np.int64))
    # every band signature packed into one bytes object per VECTOR —
    # uint8 cells while planes fit a byte (corpora to ~320k at the
    # default occupancy target), uint32 beyond. The same bytes object is
    # REUSED by all bands× tagged rows of its vector, so prefix transport
    # costs one tobytes() per vector, not bands× Python lists per row
    # (measured: per-row long-array prefixes were ~435M boxed ints at
    # sf10 — the tagging stage itself became the bottleneck).
    sig_dtype = "<u1" if num_planes <= 8 else "<u4"

    def make_tag_bands(band_lo: int, band_hi: int):
        def tag_bands(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                bits = (x @ plane_mat.T) > 0  # (n, bands*planes)
                sig_ints = (
                    bits.reshape(len(x), num_bands, num_planes) * weights
                ).sum(axis=2)  # (n, bands)
                packed = sig_ints.astype(sig_dtype)
                sig_bytes = [row.tobytes() for row in packed]
                vids = pdf["vec_id"].to_numpy()
                vecs = pdf["embedding"]
                for b in range(band_lo, band_hi):
                    yield pd.DataFrame(
                        {
                            "vid": vids,
                            "v": vecs,
                            "band": np.full(len(x), b, dtype=np.int32),
                            "sig": sig_ints[:, b],
                            "sigs": sig_bytes,
                        }
                    )

        return tag_bands

    vec_type = corpus.schema["embedding"].dataType.simpleString()
    src = corpus.select("vec_id", "embedding")
    # Parallelism guard for SMALL inputs only: a single-row-group parquet
    # file scans as one split, which would serialize the tagging GEMM and
    # the shuffle write into one task (measured 200s each at sf10). At
    # real scale the scan has more splits than cores and this is a no-op.
    parallelism = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < parallelism:
        src = src.repartition(parallelism)
    verify = _make_first_band_verify(threshold, num_bands, sig_dtype)

    def band_group_pairs(band_lo: int, band_hi: int) -> DataFrame:
        tagged = src.mapInPandas(
            make_tag_bands(band_lo, band_hi),
            f"vid long, v {vec_type}, band int, sig long, sigs binary",
        )
        return tagged.groupBy("band", "sig").applyInPandas(verify, _PAIR_SCHEMA)

    if not band_batch or band_batch >= num_bands:
        return band_group_pairs(0, num_bands)

    # Sequential band-group jobs (see docstring): each group's pair output
    # (small — the qualifying pairs) is materialized to scratch parquet so
    # the group's n×g tagged-row shuffle is finished — and its spill files
    # reclaimable — before the next group begins. Group outputs are
    # disjoint (global first-match-band prefix), union = the one-job plan.
    #
    # NOTE (execution semantics): unlike every other path in
    # this module, the batched path is EAGER — the group jobs run at call
    # time, and the returned DataFrame is a scan over their committed
    # parquet. The scratch location must be a filesystem BOTH executors
    # and the final read can see: executor task commits land wherever the
    # path points, so a driver-local tempdir is only correct in local
    # mode. _band_batch_scratch resolves a shared location (explicit conf
    # on a cluster, warehouse dir otherwise) and registers cleanup.
    import gc

    scratch = _band_batch_scratch(corpus.sparkSession)
    spark = corpus.sparkSession
    for lo in range(0, num_bands, band_batch):
        hi = min(lo + band_batch, num_bands)
        band_group_pairs(lo, hi).write.mode("append").parquet(scratch)
        # drop the finished group's lineage so ContextCleaner can reclaim
        # its shuffle files before the next group shuffles its own n×g rows
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
    return spark.read.parquet(scratch)


def _band_batch_scratch(spark: SparkSession) -> str:
    """Unique scratch directory for band-batched group outputs, on a
    filesystem shared by executors and the final driver-side read.

    Resolution order:

    1. ``spark.lsh.scratchDir`` — set this to an HDFS/S3/shared path on a
       multi-node cluster; REQUIRED there, because the fallbacks below
       may resolve to node-local disk and task commits would be invisible
       to the final read (silent row loss).
    2. the streaming checkpoint dir, if one is set (already required to
       be shared storage by Spark's own checkpoint contract);
    3. ``spark.sql.warehouse.dir`` — correct in local mode and on
       deployments whose warehouse is shared storage.

    Local (``file:``) scratch dirs are registered for atexit removal, so
    repeated batched runs don't accumulate; remote URIs are left to the
    deployment's scratch-retention policy (the returned DataFrame reads
    the files lazily, so they must outlive the caller's consumption)."""
    import atexit
    import shutil
    import uuid

    base = None
    explicit = True
    try:
        base = spark.conf.get("spark.lsh.scratchDir")
    except Exception:
        base = None
    if not base:
        explicit = False
        try:
            opt = spark.sparkContext._jsc.sc().getCheckpointDir()
            base = opt.get() if opt.isDefined() else None
        except Exception:
            base = None
    if not base:
        base = spark.conf.get("spark.sql.warehouse.dir")
    # Fail FAST instead of losing rows silently: on a real
    # multi-node cluster a file: fallback resolves to node-local disk, so
    # executor task commits land on machines the final read never sees.
    master = spark.sparkContext.master or ""
    is_local = master.startswith("local")
    node_local = base.startswith("file:")
    if not node_local and "://" not in base:
        # A scheme-less path resolves against fs.defaultFS:
        # on a cluster whose default filesystem is HDFS/S3 it IS shared,
        # so only classify it node-local when the default FS is file:.
        try:
            default_fs = (
                spark.sparkContext._jsc.hadoopConfiguration().get(
                    "fs.defaultFS", "file:///"
                )
                or "file:///"
            )
        except Exception:
            default_fs = "file:///"
        node_local = default_fs.startswith("file:")
    if not is_local and node_local and not explicit:
        raise RuntimeError(
            "band-batched LSH needs a SHARED scratch filesystem on a "
            f"cluster (master={master!r}), but the resolved fallback "
            f"{base!r} is node-local. Set spark.lsh.scratchDir to an "
            "HDFS/S3/shared path."
        )
    scratch = base.rstrip("/") + "/lsh_band_batch_" + uuid.uuid4().hex
    local = None
    if scratch.startswith("file:"):
        local = scratch[len("file:"):]
        while local.startswith("//"):
            local = local[1:]
    elif "://" not in scratch:
        local = scratch
    if local is not None:
        atexit.register(shutil.rmtree, local, ignore_errors=True)
    return scratch


def brute_force_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold — the oracle-checkable ground
    truth the LSH recall is measured against.

    Blocked: vectors hash into ``num_blocks`` blocks; every block pair
    (including self-pairs) becomes one task whose members are gathered by
    a single shuffle and scored with one normalized GEMM. Data replication
    is ``num_blocks``× (each block joins every other) — the standard
    blocked all-pairs trade on a shuffle system; pick num_blocks so
    n/num_blocks rows fit an executor. Still O(n²) compute by nature: at
    scale use lsh_similar_pairs.
    """
    tasks = [
        (t, ba, bb, ba == bb)
        for t, (ba, bb) in enumerate(
            (a, b) for a in range(num_blocks) for b in range(a, num_blocks)
        )
    ]
    tasks_df = corpus.sparkSession.createDataFrame(
        tasks, "task int, ba int, bb int, is_self boolean"
    )
    tagged = corpus.select(
        F.col("vec_id").alias("vid"),
        _as_double("embedding").alias("v"),
        # pmod(hash(.)) not id % nb: raw mod collapses blocks for ids
        # sharing a factor with nb and maps negative ids to negative
        # remainders no task matches (silent row drop)
        F.pmod(F.hash(F.col("vec_id")), F.lit(num_blocks)).cast("int").alias("blk"),
    )
    as_a = tagged.join(tasks_df, tagged.blk == tasks_df.ba).select(
        "task", "is_self", "vid", "v", F.lit(0).alias("side")
    )
    as_b = tagged.join(
        tasks_df, (tagged.blk == tasks_df.bb) & (tasks_df.ba != tasks_df.bb)
    ).select("task", "is_self", "vid", "v", F.lit(1).alias("side"))

    def score(pdf):
        return _score_sided(pdf, threshold)

    return as_a.unionByName(as_b).groupBy("task").applyInPandas(score, _PAIR_SCHEMA)


def _score_sided(pdf, threshold: float):
    """Score one block-pair task: triangular GEMM within side 0 when the
    task is a self pair, full side-0 x side-1 GEMM otherwise."""
    import numpy as np
    import pandas as pd

    a = pdf[pdf["side"] == 0]
    b = pdf[pdf["side"] == 1]
    empty = pd.DataFrame({"id1": [], "id2": [], "cosine_sim": []})
    if len(a) == 0:
        return empty
    if bool(pdf["is_self"].iloc[0]):  # self task: triangular within
        return _pairs_within(a, threshold)
    if len(b) == 0:  # cross task whose partner block is empty
        return empty
    ids_a, ids_b = a["vid"].to_numpy(), b["vid"].to_numpy()
    ma = np.stack(a["v"].to_numpy()).astype(np.float64)
    mb = np.stack(b["v"].to_numpy()).astype(np.float64)
    ma /= np.sqrt((ma * ma).sum(axis=1, keepdims=True))
    mb /= np.sqrt((mb * mb).sum(axis=1, keepdims=True))
    s = np.round(ma @ mb.T, 6)
    ii, jj = np.nonzero(s >= threshold)
    id1 = np.minimum(ids_a[ii], ids_b[jj])
    id2 = np.maximum(ids_a[ii], ids_b[jj])
    return pd.DataFrame({"id1": id1, "id2": id2, "cosine_sim": s[ii, jj]})


def _cell_block_tasks(
    cells: DataFrame,
    target_rows: int,
    id_col: str = "vid",
    vec_col: str = "v",
    cell_col: str = "cell",
) -> tuple[DataFrame, dict[int, int]]:
    """Salt hot cells into bounded block-pair tasks.

    The cell histogram is ONE metadata-sized aggregate (k rows — k is the
    codebook size, model metadata, never data-scale); each cell of n rows
    splits into ceil(n / target_rows) blocks, and every block pair (self
    pairs included) becomes one task keyed (cell, ba, bb). Two fixes shape
    the mechanics:

    - the block key is ``pmod(hash(id), nb)`` — a raw ``id % nb`` only
      balances for ids uniform mod nb (ids sharing a factor with nb
      collapse blocks back into a straggler) and a negative id yields a
      negative remainder in Spark that no (ba, bb) task would match,
      silently dropping the row;
    - tasks are generated DISTRIBUTEDLY: each row explodes into its own
      nb tasks (side 0 for partners >= its block, side 1 for partners
      below), so no O(sum nb²) task list is ever materialized on the
      driver or broadcast — for the motivating skew case (one cell
      holding half a 100 TB corpus) the old task table alone was billions
      of driver-side tuples. Per-row replication is nb× either way; the
      only data-scale exchange remains the groupBy task key that follows.

    Returns the tagged frame plus the per-cell block count, so tests can
    assert the bound directly.
    """
    spark = cells.sparkSession
    sizes = cells.groupBy(cell_col).count().collect()
    nblocks: dict[int, int] = {
        r[cell_col]: max(1, math.ceil(r["count"] / target_rows)) for r in sizes
    }
    nb_df = spark.createDataFrame(
        [(c, n) for c, n in nblocks.items()], f"{cell_col} int, nb int"
    )
    blocked = cells.join(F.broadcast(nb_df), cell_col).withColumn(
        "blk", F.pmod(F.hash(F.col(id_col)), F.col("nb")).cast("int")
    )
    as_a = blocked.select(
        F.col(cell_col).alias("tcell"),
        F.col("blk").alias("ba"),
        F.explode(F.sequence(F.col("blk"), F.col("nb") - F.lit(1))).alias("bb"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.lit(0).alias("side"),
    )
    as_b = blocked.filter(F.col("blk") > 0).select(
        F.col(cell_col).alias("tcell"),
        F.explode(F.sequence(F.lit(0), F.col("blk") - F.lit(1))).alias("ba"),
        F.col("blk").alias("bb"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.lit(1).alias("side"),
    )
    tagged = as_a.unionByName(as_b).withColumn(
        "is_self", F.col("ba") == F.col("bb")
    )
    return tagged, nblocks


def cell_blocked_pairs(
    cells: DataFrame,
    threshold: float,
    target_rows: int = 4096,
) -> DataFrame:
    """All (id1 < id2) cosine >= threshold pairs WITHIN each cell, with hot
    cells salted into bounded tasks.

    A plain groupBy(cell) verify is one task per cell — correct while every
    cell is near the expected occupancy, but a natural corpus concentrates
    mass (the exact skew that made the banded path straggle at sf10): a
    cell holding half the vectors becomes one O((n/2)² · dim) straggler.
    This is the same blocked all-pairs trade brute_force_pairs makes,
    applied per cell: blocks of ≤ target_rows rows, one task per block
    pair, so every task is bounded at ~(2·target_rows)²·dim flops and
    O(target_rows²) memory regardless of cell skew, and a hot cell turns
    into nb(nb+1)/2 parallel tasks instead of one straggler. Replication is
    nb× for the hot cell only; cells at or under target_rows degenerate to
    exactly the one-task-per-cell plan. Pair set and 6-dp scores are
    identical to the unsalted verify (same blocked GEMM, same global
    triangle)."""
    tagged, _ = _cell_block_tasks(cells, target_rows, "vid", "v", "cell")

    def score(pdf):
        return _score_sided(pdf, threshold)

    return tagged.groupBy("tcell", "ba", "bb").applyInPandas(score, _PAIR_SCHEMA)


# -- deterministic Lloyd's k-means (oracle-expressible IVF training) ---------
# Replaces MLlib KMeans for the trained-IVF query so the FULL pipeline —
# training included — can be reproduced by a SQL oracle (reference parity:
# streaming-data-pipeline-capstone README.md:94-98 promises a "trained model" stage; MLlib's
# kmeans|| init is seeded-random and not portable across engines). Design
# choices are all about cross-engine determinism:
#
# - init = the k vectors with the LOWEST ids (row_number over vec_id in
#   SQL) — no RNG anywhere;
# - assignment = argmin of squared L2 distance, ties broken by lowest
#   cell id (row_number ... ORDER BY dist, cell in SQL; array_position of
#   array_min in Spark — both take the FIRST minimum);
# - update = per-dimension mean ROUNDED TO 6 DECIMALS. The rounding is
#   the drift-killer: Spark and DuckDB sum partitions in different orders
#   (~1e-15 relative difference), but both land within ~1e-12 of the true
#   mean, so rounding to 1e-6 yields bit-identical centroids each
#   iteration and the drift can never compound;
# - empty cells keep their previous centroid (COALESCE in SQL).
#
# Distributed shape: each iteration is ONE map-side-combined aggregation
# over the corpus keyed on (cell, dim) — the canonical scalable Lloyd's —
# and only k×dim tiny rows (model metadata, not data) reach the driver.


def lit_double_array(vals) -> Column:
    """``array<double>`` literal built in ONE py4j round-trip.

    ``F.lit(list)`` makes a JVM call per element (plus the CreateArray),
    which at model sizes (k x dim centroid books, subs x pq_k ADC tables)
    turns every probe build into seconds of driver<->JVM chatter —
    measured 2.5 s / 10,811 round-trips for one pruned-probe build
    (guide §5: the driver should do almost no work). A single parsed
    ``array(CAST('<repr>' AS DOUBLE), ...)`` string is one call; the
    string->double cast is correctly rounded, so values are bit-identical
    to the per-element literals (repr round-trips IEEE doubles), and the
    optimizer constant-folds the array to the same Literal either way.
    """
    body = ",".join("CAST('%s' AS DOUBLE)" % repr(float(v)) for v in vals)
    return F.expr("array(" + body + ")")


def lit_double_matrix(rows) -> Column:
    """``array<array<double>>`` literal in ONE py4j round-trip (see
    :func:`lit_double_array`)."""
    body = ",".join(
        "array(" + ",".join("CAST('%s' AS DOUBLE)" % repr(float(v)) for v in row) + ")"
        for row in rows
    )
    return F.expr("array(" + body + ")")


def assign_cells(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (0-based) with first-minimum tie-break.

    One transform over a k-element array of plane literals (each centroid
    a single array Literal node), not k separate distance subtrees: the
    expression is rebuilt every Lloyd iteration, so the Column-tree size
    sets the per-iteration py4j/plan overhead. Arithmetic is unchanged —
    per-centroid left-to-right zip_with/aggregate fold, array_min +
    array_position keep the first-minimum tie-break — verified
    bit-identical assignments against the per-centroid form.
    """
    books = lit_double_matrix(centroids)
    dists = F.transform(
        books,
        lambda c: F.aggregate(
            F.zip_with(vec_col, c, lambda x, cc: (x - cc) * (x - cc)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def assign_cells_topn(
    vec_col: Column, centroids: list[list[float]], n: int
) -> Column:
    """The ``n`` nearest centroid cell ids (0-based), nearest first, with
    the same cell-asc tie-break as :func:`assign_cells` — the spilled
    (multi-assignment) coarse quantizer of ScaNN-style IVF serving.

    Single-assignment IVF caps probe recall at the coarse quantizer's
    quality: a true neighbor whose ONE cell is unprobed is gone before
    scoring. On an isotropic corpus that ceiling is severe (measured
    ivf_exact recall 0.75 at nprobe/k = 0.25; run in git history at
    78bf83b);
    storing each vector in its ``n`` nearest cells lifts it (0.915 at
    n=2, same probed fraction) for n x the PQ-code bytes — 48 B/vector
    at the shipped 192-bit codes, far below the 256 B raw vector.

    Implementation: the same k-element distance array as
    :func:`assign_cells`, zipped with cell ids and ``array_sort``-ed —
    struct ordering sorts (dist asc, cell asc), so element 1 is
    bit-identical to ``assign_cells``'s first-minimum choice.
    """
    books = lit_double_matrix(centroids)
    dists = F.transform(
        books,
        lambda c: F.aggregate(
            F.zip_with(vec_col, c, lambda x, cc: (x - cc) * (x - cc)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    ranked = F.array_sort(F.arrays_zip(dists.alias("d"), idx.alias("cell")))
    return F.slice(F.transform(ranked, lambda s: s["cell"].cast("int")), 1, n)


# Above this k the O(k·dim) assign_cells Column tree falls out of
# whole-stage codegen into interpreted per-row eval (the same cliff the
# layout encoder hit — see ann_layout._PANDAS_ENCODE_MIN_K, which keys
# off this constant), so the per-iteration assignment switches to an
# Arrow-batched numpy twin: accumulation loops over the dim axis (the
# scalar fold's operation order) and np.argmin keeps the first-minimum
# tie-break — assignments are bit-identical (pinned in tests), so the
# trained centroids are too.
PANDAS_ASSIGN_MIN_K = 32


def assign_cells_batches(centroids: list[list[float]], vec_col: str):
    """mapInPandas twin of :func:`assign_cells`: yields (cell, vec_col)
    batches with the identical assignment (sequential-fold distances,
    first-min tie-break)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            acc = np.zeros((X.shape[0], C.shape[0]))
            for d in range(C.shape[1]):
                diff = X[:, d, None] - C[None, :, d]
                acc = acc + diff * diff
            out = pdf[[vec_col]].copy()
            out.insert(0, "cell", np.argmin(acc, axis=1).astype("int32"))
            yield out

    return fn


def lloyd_kmeans_centroids(
    vecs: DataFrame,
    k: int,
    iters: int,
) -> list[list[float]]:
    """Train k-means over ``(vec_id, v)`` rows; returns the final centroids
    (k×dim model metadata)."""
    # every iteration scans the corpus once; persist so rounds 2..n read
    # the decoded/cast vectors from block storage instead of re-running
    # the parquet scan + cast pipeline
    vecs = vecs.persist()
    try:
        init_rows = vecs.orderBy("vec_id").limit(k).select("v").collect()
        centroids = [[float(x) for x in r[0]] for r in init_rows]
        for _ in range(iters):
            # two selects, deliberately: with assign_cells in the SAME
            # select as posexplode, the projection plans ABOVE the
            # Generate and the k-centroid distance scan re-evaluates per
            # EXPLODED row — dim× the work (measured 1.9 s -> 0.76 s per
            # iteration at sf0.01). Materializing `cell` below the
            # Generate evaluates it once per vector.
            if k >= PANDAS_ASSIGN_MIN_K:
                assigned = vecs.select(F.col("v")).mapInPandas(
                    assign_cells_batches(centroids, "v"),
                    schema="cell int, v array<double>",
                )
            else:
                assigned = vecs.select(
                    assign_cells(F.col("v"), centroids).alias("cell"),
                    F.col("v"),
                )
            assigned = assigned.select(
                "cell", F.posexplode("v").alias("idx", "x")
            )
            means = (
                assigned.groupBy("cell", "idx")
                .agg(F.round(F.avg("x"), 6).alias("val"))
                .collect()
            )
            nxt = [list(c) for c in centroids]  # empty cells keep prev centroid
            for r in means:
                nxt[r["cell"]][r["idx"]] = r["val"]
            centroids = nxt
        return centroids
    finally:
        vecs.unpersist()


# -- product quantization (PQ) ------------------------------------------------
# The standard 100 TB embedding-index compression: split each vector into
# SUBS contiguous subvectors, k-means each subspace independently, store
# each vector as SUBS small codes (here 4×3 bits ~ 8 B/vec vs 256 B raw),
# and answer queries by Asymmetric Distance Computation — per-subspace
# lookup tables of exact query-to-centroid distances, summed per code
# tuple. Training reuses the deterministic Lloyd's above, so the ENTIRE
# pipeline (training → encoding → ADC top-k) is reproducible in a SQL
# oracle. Distributed shape: training = SUBS independent tiny-metadata
# Lloyd's loops; encoding = pure per-row expressions (zero shuffles); ADC
# scoring = per-row lookups into broadcast literal tables + top-k
# reduction (TakeOrderedAndProject, zero shuffles).


def pq_train(
    vecs: DataFrame,
    subs: int,
    sub_dim: int,
    k: int,
    iters: int,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: result[s][code] = centroid (len sub_dim).

    All ``subs`` Lloyd's loops advance in lock-step through ONE Spark job
    per iteration (plus one init job), not ``subs`` independent loops:
    each iteration explodes every row into (sub, cell, dim, x) and runs a
    single map-side-combined aggregation keyed on (sub, cell, dim).
    Centroids are bit-identical to training each subspace separately —
    same init rows (k lowest ids, sliced), same assignment/tie-break,
    same avg with the same 1e-6 rounding — so the SQL oracle that unrolls
    training per-subspace still matches; the job count drops from
    subs*(iters+1) to iters+1 (measured 2x wall-clock on the PQ queries,
    which pay training on every launch).
    """
    vecs = vecs.persist()  # same scan-reuse as lloyd_kmeans_centroids
    try:
        init_rows = vecs.orderBy("vec_id").limit(k).select("v").collect()
        books = [
            [[float(x) for x in r[0][s * sub_dim : (s + 1) * sub_dim]] for r in init_rows]
            for s in range(subs)
        ]
        for _ in range(iters):
            sub_structs = []
            for s, book in enumerate(books):
                sl = F.slice(F.col("v"), s * sub_dim + 1, sub_dim)
                sub_structs.append(
                    F.struct(
                        F.lit(s).alias("sub"),
                        assign_cells(sl, book).alias("cell"),
                        sl.alias("sv"),
                    )
                )
            exploded = vecs.select(F.explode(F.array(*sub_structs)).alias("e")).select(
                F.col("e.sub").alias("sub"),
                F.col("e.cell").alias("cell"),
                F.posexplode("e.sv").alias("idx", "x"),
            )
            means = (
                exploded.groupBy("sub", "cell", "idx")
                .agg(F.round(F.avg("x"), 6).alias("val"))
                .collect()
            )
            nxt = [[list(c) for c in book] for book in books]  # empty cells keep prev
            for r in means:
                nxt[r["sub"]][r["cell"]][r["idx"]] = r["val"]
            books = nxt
        return books
    finally:
        vecs.unpersist()


def pq_encode_cols(vec_col: Column, books: list[list[list[float]]], sub_dim: int) -> list[Column]:
    """One int code column per subspace (nearest sub-centroid, first-min ties)."""
    return [
        assign_cells(F.slice(vec_col, s * sub_dim + 1, sub_dim), book).alias(f"c{s}")
        for s, book in enumerate(books)
    ]


def pq_adc_tables(
    query: list[float], books: list[list[list[float]]], sub_dim: int
) -> list[list[float]]:
    """Per-subspace ADC lookup tables for one query: tables[s][code] =
    exact squared L2 from the query's s-th subvector to sub-centroid
    ``code``. The one piece of per-query state an ADC scan needs —
    subs x pq_k doubles, computed once driver-side."""
    tabs: list[list[float]] = []
    for s, book in enumerate(books):
        q_sub = query[s * sub_dim : (s + 1) * sub_dim]
        tabs.append(
            [
                float(
                    sum(
                        (q_sub[i] - c[i]) * (q_sub[i] - c[i])
                        for i in range(sub_dim)
                    )
                )
                for c in book
            ]
        )
    return tabs


def pq_adc_score(
    code_cols: list[Column], query: list[float], books: list[list[list[float]]], sub_dim: int
) -> Column:
    """ADC distance: Σ_s table_s[code_s], tables = exact squared L2 from the
    query's subvector to each sub-centroid (computed once, index-order sums —
    bit-identical to the SQL twin's per-subspace distance join)."""
    total = F.lit(0.0)
    for s, table in enumerate(pq_adc_tables(query, books, sub_dim)):
        total = total + F.element_at(
            lit_double_array(table), code_cols[s].cast("int") + 1
        )
    return total


def pq_adc_score_tables_col(code_cols: list[Column], dtabs: Column) -> Column:
    """ADC distance against a JOINED distance-table column instead of
    literal tables: ``dtabs`` is ``array<array<double>>`` with
    dtabs[s][code] the per-subspace lookup (built by :func:`pq_adc_tables`
    and shipped as a broadcast frame keyed by query id). Same index-order
    sum as :func:`pq_adc_score` — bit-identical results — but expression
    size is O(subs) regardless of how many queries share the scan, which
    is what lets a serving BATCH of hundreds of queries compile where a
    per-query literal-CASE chain cannot."""
    total = F.lit(0.0)
    for s, code in enumerate(code_cols):
        total = total + F.element_at(
            F.element_at(dtabs, s + 1), code.cast("int") + 1
        )
    return total
