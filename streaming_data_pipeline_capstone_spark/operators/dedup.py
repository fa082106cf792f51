"""Deduplication operators for training-data pipelines (driver mandate X1/X2).

Four dedup families, all shuffle-architected for 100 TB:

- exact: hash-groupBy on a normalized fingerprint — one exchange on the
  16-byte hash, never on the document text
- MinHash + LSH: shingle → k min-hashes → b bands → bucket join. The only
  pairwise work happens inside LSH buckets (expected O(duplicates), not
  O(n²)); candidates are then verified with exact Jaccard
- SimHash: 16-nibble fingerprint from token hash parities; hamming
  neighbors share band substrings
- n-gram Jaccard: exact pairwise over the inverted shingle index — the
  brute-force oracle path (small data / validation), same verify code as
  MinHash

Hashes are md5 hex strings so every step is bit-for-bit reproducible in
ANSI SQL (DuckDB oracles in queries/llm_ops.py) — a deliberately portable
MinHash: min() over lexicographic hex strings is a valid uniform min-hash
because md5 is uniform on the first bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_data_pipeline_capstone_spark.operators.textstats import fingerprint

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # rows per band r = k/b = 3 → catches jaccard ≳ 0.63


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups on the normalized-text fingerprint.

    Returns one row per distinct content: representative (min id), count.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, word 3-gram shingles array<string>) — the input to both MinHash
    and exact Jaccard.

    Tokenization is projected into its own column before shingling so the
    per-document split runs once, not once per lambda reference (see
    shingles_from_tokens docstring; Catalyst's CollapseProject keeps the
    boundary because the token array is non-cheap and multiply-referenced).

    Shingling is CPU-bound, so a single-row-group input file (everything
    serial) would waste the cluster: if the scan has fewer partitions than
    cores, spread it first. At real scale inputs carry far more row groups
    than cores and the repartition never fires.
    """
    from streaming_data_pipeline_capstone_spark.operators.skew import spread_small_input
    from streaming_data_pipeline_capstone_spark.operators.textstats import shingles_from_tokens, tokens

    # r15 fix: the old guard compared rdd.getNumPartitions() (byte-range
    # SPLIT count — 32 under files.minPartitionNum even for one tiny
    # single-row-group file whose rows all land in one split) and never
    # fired; spread_small_input detects actual input size instead.
    df = spread_small_input(df)
    return df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("t")).select(
        "doc", shingles_from_tokens(F.col("t")).alias("shingles")
    )


# F.transform passes (element, index) to a two-parameter lambda, so a
# ``lambda x, _s=s: ...`` default binding silently becomes the array index;
# bind the loop value through a one-parameter closure instead.
def _seeded_md5(seed: int):
    return lambda sh: F.md5(F.concat(F.lit(f"{seed}|"), sh))


def _hex_chunk(chunk: int):
    return lambda digest: F.substring(digest, chunk * 8 + 1, 8)


def minhash_signatures(
    sets_df: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """k min-hashes per doc, 4 per md5: hash i = 8-hex-char chunk i%4 of
    md5(seed(i//4) || '|' || shingle), minimized lexicographically.

    Chunking cuts the md5 evaluations per shingle occurrence 4× vs one
    md5 per hash; each 32-bit chunk of a uniform digest is itself a valid
    uniform min-hash.

    ZERO exchanges (r16): a min-hash is a per-document reduction over its
    own shingle array, so it computes as ``array_min(transform(...))``
    projections — no explode, no groupBy. The previous form exploded to
    one row per (doc, shingle) and shuffled every seeded digest through a
    doc-keyed aggregation: a corpus-shingle-occurrence-sized exchange
    (~100 bytes x occurrences at any scale) for values that never needed
    to leave their row (guide §2.4 "remove shuffles outright").
    Bit-identical: a doc with a null or empty shingle array (null text)
    is dropped, as the explode dropped it, instead of getting all-null
    signatures that would collide in every LSH band; min over
    lexicographic hex strings is the same reduction either way,
    and the digest arrays are projected into columns before the per-chunk
    mins so each md5 runs once per shingle (the CSE-across-lambdas
    boundary CollapseProject keeps for non-cheap multiply-referenced
    expressions — the shingle_sets lesson).
    """
    n_seeds = (num_hashes + 3) // 4
    with_h = sets_df.filter(F.size("shingles") > 0).select(
        "doc",
        *[
            F.transform("shingles", _seeded_md5(s)).alias(f"h{s}")
            for s in range(n_seeds)
        ],
    )
    return with_h.select(
        "doc",
        *[
            F.array_min(F.transform(f"h{i // 4}", _hex_chunk(i % 4))).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )


def lsh_bands(
    sigs: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(doc, band_id, band_hash): hash of each signature band. Docs agreeing
    on ANY band are candidates."""
    r = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * r + j}") for j in range(r)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *parts)).alias("bh"))
        )
    return sigs.select("doc", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc", F.col("band.band_id").alias("band_id"), F.col("band.bh").alias("bh")
    )


def _bucket_pair_instances(bucketed: DataFrame, key_cols: list[str]) -> DataFrame:
    """(doc1 < doc2) pair per shared bucket, WITH multiplicity (one row per
    bucket the pair co-occupies).

    One shuffle keyed on the bucket: members are collected per bucket and
    pairs generated with a nested ``transform`` — no self-join, so the
    upstream pipeline is evaluated once, not twice. Only same-bucket rows
    ever meet, so pairwise work is O(Σ bucket²), not O(n²). Known scale
    hazard: a pathological hot bucket (thousands of byte-identical docs)
    makes one task quadratic — run exact dedup first (X1) so identical
    docs collapse before LSH, the standard pipeline order at 100 TB.
    """
    grouped = bucketed.groupBy(*key_cols).agg(
        F.sort_array(F.collect_set("doc")).alias("members")
    )
    pairs = F.flatten(
        F.transform(
            "members",
            lambda x, i: F.transform(
                F.slice("members", i + 2, F.size("members")),
                lambda y: F.struct(x.alias("doc1"), y.alias("doc2")),
            ),
        )
    )
    return (
        grouped.filter(F.size("members") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc1", "p.doc2")
    )


def candidate_pairs_from_bands(bands_df: DataFrame) -> DataFrame:
    """Distinct (doc1 < doc2) pairs sharing at least one LSH bucket."""
    return _bucket_pair_instances(bands_df, ["band_id", "bh"]).distinct()


def jaccard_verify(
    pairs: DataFrame, sets_df: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs; keeps pairs ≥ threshold.

    Joining the (small) candidate set back to the shingle arrays — the
    expensive set intersection only runs on LSH survivors.
    """
    s1 = sets_df.select(F.col("doc").alias("doc1"), F.col("shingles").alias("s1"))
    s2 = sets_df.select(F.col("doc").alias("doc2"), F.col("shingles").alias("s2"))
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size("s1") + F.size("s2") - inter
    jac = inter.cast("double") / union
    return (
        pairs.join(s1, "doc1")
        .join(s2, "doc2")
        .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    pre_dedup: bool = False,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: verified (doc1, doc2, jaccard).

    ``pre_dedup=True`` collapses normalization-identical documents —
    same ``fingerprint()``, i.e. equal after lowercasing and whitespace
    normalization, a superset of byte-identical that is consistent with
    the tokenizer-based shingles (such docs have Jaccard 1.0 anyway) —
    to their fingerprint representative (min id) BEFORE shingling: the standard
    100 TB pipeline order and the hot-bucket mitigation documented at
    ``_bucket_pair_instances``: k identical documents otherwise land in
    the same LSH bucket and force one task to emit k(k-1)/2 pairs. With
    the collapse, exact-duplicate groups contribute ONE representative
    each (recover the groups with ``exact_dedup_groups``; their pairwise
    jaccard is 1.0 by construction and deliberately not enumerated —
    enumerating it IS the quadratic output being avoided). Costs one
    extra exchange on the 16-byte fingerprint, never on the text.

    The shingle index feeds three consumers (signatures, both sides of the
    Jaccard verify) — it is persisted rather than recomputed: the dedup
    pipeline's deliberate materialization point, exactly where a 100 TB
    run would checkpoint the index to parquet."""
    if pre_dedup:
        reps = (
            df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias(id_col))
        )
        df = df.join(reps, id_col, "left_semi")
    # scoped (registry-released) persist: the returned lazy frame reads
    # sets_df twice (signature chain + exact verify), but this function
    # returns before materialization so it cannot unpersist itself
    from streaming_data_pipeline_capstone_spark.cache import scoped_persist

    sets_df = scoped_persist(shingle_sets(df, id_col, text_col))
    sigs = minhash_signatures(sets_df, DEFAULT_NUM_HASHES)
    cands = candidate_pairs_from_bands(lsh_bands(sigs, DEFAULT_NUM_HASHES, DEFAULT_BANDS))
    return jaccard_verify(cands, sets_df, threshold)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6
) -> DataFrame:
    """Exact n-gram Jaccard near-dups via the inverted shingle index.

    Candidate generation = docs sharing ≥1 shingle (shuffle keyed on the
    shingle); exact for validation, O(pairs-sharing-a-shingle) at scale —
    prefer minhash_lsh_dedup beyond small corpora.
    """
    from streaming_data_pipeline_capstone_spark.cache import scoped_persist

    sets_df = scoped_persist(shingle_sets(df, id_col, text_col))
    inv = sets_df.select("doc", F.explode("shingles").alias("sh"))
    # |A ∩ B| = number of inverted-index buckets both docs occupy: count
    # pair instances instead of re-intersecting shingle arrays per pair.
    # (Shingle arrays are distinct per doc, so multiplicity = overlap.)
    inter = (
        _bucket_pair_instances(inv, ["sh"])
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sets_df.select("doc", F.size("shingles").alias("sz"))
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("sz").alias("sz2"))
    jac = F.col("n_inter").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("n_inter"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_bits(text_col: Column | str) -> Column:
    """SimHash-style fingerprint as a bit-string over md5 nibble parities.

    For each of the 16 hex positions of md5(token), tokens vote +1 if the
    nibble's top bit is set (8-f) else -1; the position's output bit is 1
    when the sum is positive. Near-duplicate texts differ in few bits.
    Fully portable (string ops + sums only).
    """
    toks = F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col) if isinstance(text_col, str) else text_col)), r"\s+")
    )
    def _vote(p: int):
        # closure factory: pyspark introspects lambda arity, so the
        # position can't ride along as a defaulted third parameter
        return lambda acc, t: acc + F.when(
            F.substring(F.md5(t), p, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1
        ).otherwise(-1)

    bits = []
    for p in range(1, 17):
        vote = F.aggregate(toks, F.lit(0), _vote(p))
        bits.append(F.when(vote > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


# Size gate for the driver union-find fast path below: the same
# size-switched-algorithm convention as Spark's own broadcast-join
# threshold. 1M edges ≈ tens of MB of Python tuples — far inside the
# driver budget; callers pass ``driver_max_edges`` to change it.
_CC_DRIVER_MAX_EDGES = 1_000_000


def _union_find_components(rows) -> dict:
    """Driver union-find with min-node representatives — exact twin of the
    distributed Hash-Min fixpoint (component = min reachable node)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps the representative = component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Connected components over an undirected ``(doc1, doc2)`` pair list:
    (node, component) where component = min node id reachable from it.

    The step real dedup pipelines need after pair generation — near-dup
    pairs are transitive in intent ("all versions of this document"), so
    keep-one-per-cluster requires components, not pairs.

    Two executions behind one contract, switched on the EDGE COUNT (the
    broadcast-join-threshold convention — pick the algorithm by measured
    size, not hope):

    - ``≤ driver_max_edges`` (default 1M,
      ``_CC_DRIVER_MAX_EDGES``): persist the pair list, count
      it (ONE fully-parallel execution of the pair chain), and collect
      from cache for a driver union-find — the verified near-dup pair
      set is a tiny fraction of any corpus, and the distributed fixpoint
      below costs ~5 driver-sequential jobs PER ROUND for it (measured
      r15: the CC loop was 29 of the curation funnel's 47 build jobs at
      sf0.1). The gate is a ``count`` rather than ``limit(n+1).collect()``
      because ``collect``-after-``limit`` goes through ``executeTake``'s
      incremental partition escalation, re-running the pair chain's
      result stage per escalation round (measured: 13 sequential driver
      jobs for a 25-edge list). Components are returned as a
      ``createDataFrame`` — small by the same bound.
    - above the gate: Hash-Min propagation + pointer jumping, unchanged —
      each round every node takes the min of (its label, its neighbors'
      labels) and then shortcuts to its label's label, ~O(log n) rounds,
      all executor-side (the standard large-graph CC recipe on a shuffle
      system, cf. GraphFrames/Pregel and MapReduce CC literature). This
      is the 100 TB path: a billion-edge pair list never touches the
      driver.

    Both paths produce identical labels (component = min reachable node;
    pinned against each other in tests/test_properties.py).
    """
    if driver_max_edges is None:
        driver_max_edges = _CC_DRIVER_MAX_EDGES
    sel = pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
    gated_cache = None
    if driver_max_edges > 0:
        gated_cache = sel.persist()
        n_edges = gated_cache.count()
        if n_edges <= driver_max_edges:
            head = gated_cache.collect()
            gated_cache.unpersist()
            comp = _union_find_components([(r["a"], r["b"]) for r in head])
            spark = pairs.sparkSession
            node_type = pairs.schema["doc1"].dataType
            out_schema = T.StructType(
                [
                    T.StructField("node", node_type, True),
                    T.StructField("component", node_type, True),
                ]
            )
            return spark.createDataFrame(
                sorted(comp.items()), schema=out_schema
            )
        # over the gate: the cached pair list feeds the distributed
        # fixpoint below (one chain execution either way); it is released
        # as soon as the doubled edge cache is materialized from it.
        sel = gated_cache

    edges = sel.unionByName(
        sel.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    if gated_cache is not None:
        edges.count()  # materialize from the pair cache, then free it
        gated_cache.unpersist()

    # localCheckpoint (not persist): iterative plans otherwise grow by one
    # join-tree per round and re-analysis dominates after ~5 rounds. On a
    # cluster with lineage-recovery requirements use reliable checkpoint
    # (spark.sparkContext.setCheckpointDir + .checkpoint()) instead.
    #
    # Checkpoint-block hygiene: each round's
    # localCheckpoint pins its blocks in executor storage and nothing
    # unpins them — a 10-round run on a long-lived session leaks 10
    # label-table copies. Once round i's checkpoint is materialized (the
    # convergence count below), round i−1's blocks can never be read
    # again, so they are released precisely then; the FINAL round's
    # blocks back the returned frame, so they are scoped to the registry
    # boundary instead (cache.scope_checkpoints — freed when the next
    # query builds, by which point sequential callers have consumed the
    # result).
    def _ckpt_handle(df):
        """The checkpoint RDD backing a localCheckpoint'd frame — read
        off the frame's own LogicalRDD plan, so attribution is exact.
        (An earlier version diffed sc.getPersistentRDDs() by a
        'localCheckpoint' toString match: under concurrent queries that
        sweeps OTHER queries' just-created checkpoint blocks into this
        round and unpersists them — localCheckpoint blocks cannot be
        recomputed, so the victim dies with 'checkpoint block not
        found'. The per-frame handle has no such race.)"""
        return df._jdf.queryExecution().analyzed().rdd()

    labels = (
        edges.groupBy("a").agg(F.min("b").alias("nb"))
        .select("a", F.least("a", "nb").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_round: list = [_ckpt_handle(labels)]
    # Convergence = "no label changed this round", checked type-agnostically
    # by carrying the round-start label through the step and counting rows
    # where it differs afterwards (works for string ids too — a sum-based
    # check would be NULL==NULL forever on non-numeric labels and exit
    # early with wrong components). One extra filter+count over the
    # already-checkpointed labels per round.
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("a", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.select("a", F.col("label").alias("__prev")).join(
            neighbor_min, "a", "left"
        ).select("a", "__prev", F.least("__prev", "nlabel").alias("label"))
        # pointer jump: label ← label(label). Labels are themselves nodes
        # of the same component, so the lookup is a self-join on the label
        # table; missing lookups (label is a component min) keep the label.
        lookup = stepped.select(
            F.col("a").alias("label"), F.col("label").alias("ll")
        )
        labels = (
            stepped.join(lookup, "label", "left")
            .select("a", "__prev", F.least("label", "ll").alias("label"))
            .localCheckpoint(eager=False)
        )
        this_round = [_ckpt_handle(labels)]
        n_changed = labels.filter(F.col("label") != F.col("__prev")).count()
        # this round's checkpoint is now materialized: the previous
        # round's blocks are unreachable — free them
        for r in prev_round:
            r.unpersist(False)
        prev_round = this_round
        labels = labels.drop("__prev")
        if n_changed == 0:
            break
    edges.unpersist()
    from streaming_data_pipeline_capstone_spark.cache import scope_checkpoints

    scope_checkpoints(prev_round)
    return labels.select(F.col("a").alias("node"), F.col("label").alias("component"))
