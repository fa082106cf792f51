"""LLM-data operator tests: dedup recall, similarity, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.dedup import (
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_bits,
)
from streaming_data_pipeline_capstone_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    pack_binary,
)
from streaming_data_pipeline_capstone_spark.operators.similarity import cosine_topk
from streaming_data_pipeline_capstone_spark.sources.readers import read_table


def test_minhash_lsh_matches_exact_ground_truth(spark, sf_oracle):
    """At jaccard ≥ 0.6 with b=4/r=3 bands, LSH must find the planted
    near-dups that exact n-gram Jaccard finds (25 pairs at sf0.01)."""
    docs = read_table(spark, sf_oracle, "documents")
    exact = {
        (r.doc1, r.doc2) for r in ngram_jaccard_pairs(docs, "doc_id", "text", 0.6).collect()
    }
    lsh = {
        (r.doc1, r.doc2) for r in minhash_lsh_dedup(docs, "doc_id", "text", 0.6).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    assert lsh == exact  # full recall on high-jaccard pairs, no false positives


def test_simhash_near_duplicates_close(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # 1 token differs
            (3, "completely unrelated text about spark shuffles and parquet"),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.sh for r in docs.select("doc_id", simhash_bits("text").alias("sh")).collect()}
    d12 = sum(a != b for a, b in zip(got[1], got[2]))
    d13 = sum(a != b for a, b in zip(got[1], got[3]))
    assert d12 < d13  # near-dup is closer in hamming space
    assert len(got[1]) == 16


def test_cosine_topk_self_first(spark, sf_smoke):
    emb = read_table(spark, sf_smoke, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    top = cosine_topk(emb, list(qvec), k=5).collect()
    assert top[0].vec_id == 0
    assert abs(top[0].cosine_sim - 1.0) < 1e-9
    sims = [r.cosine_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_multimodal_feature_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "spark"), (3, "")], "doc_id int, text string"
    )
    packed = pack_binary(docs, "text", mime="text/plain")
    assert packed.schema["payload"].dataType.typeName() == "binary"
    meta = {r.doc_id: r.media_meta for r in packed.collect()}
    assert meta[1].n_bytes == 11 and meta[1].mime == "text/plain"

    feats = extract_features(packed).collect()
    assert all(len(r.features) == FEATURE_DIM for r in feats)
    # deterministic fake decode: 'hello wo' bytes / 255
    by_ck = {r.checksum: r.features for r in feats}
    ck1 = meta[1].checksum
    assert abs(by_ck[ck1][0] - ord("h") / 255.0) < 1e-6


def _make_bmp(pixels_rgb: list[list[tuple[int, int, int]]]) -> bytes:
    """Hand-assemble an uncompressed 24-bit bottom-up BMP from an RGB
    row-major grid — independent byte-level encoder so the numpy decoder
    has a non-circular golden reference."""
    import struct

    h, w = len(pixels_rgb), len(pixels_rgb[0])
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for row in reversed(pixels_rgb):  # bottom-up storage
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))  # stored BGR
        line += b"\0" * (stride - len(line))
        body += line
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header + dib + body)


def test_decode_image_bmp_golden_pixels(spark):
    """The pure-numpy BMP decoder against a hand-assembled image: exact
    dims, corner pixels, and channel means (one
    multimodal decode made real)."""
    from streaming_data_pipeline_capstone_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_image,
    )

    # 3x2 (odd width -> exercises the 4-byte row padding), distinct corners
    grid = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    payload = _make_bmp(grid)

    a = decode_bmp_pixels(payload)
    assert a.shape == (2, 3, 3)
    assert [int(x) for x in a[0, 0]] == [255, 0, 0]
    assert [int(x) for x in a[1, 2]] == [70, 80, 90]

    df = spark.createDataFrame([(1, bytearray(payload))], "img_id int, payload binary")
    row = decode_image(df, id_cols=("img_id",)).collect()[0]
    assert (row.width, row.height, row.channels) == (3, 2, 3)
    # corners: tl, tr, bl, br in RGB
    assert row.corner_rgb == [255, 0, 0, 0, 0, 255, 10, 20, 30, 70, 80, 90]
    exp_mean = [
        round(sum(p[c] for r in grid for p in r) / 6.0, 6) for c in range(3)
    ]
    assert row.mean_rgb == exp_mean


def test_decode_image_rejects_non_bmp():
    import pytest

    from streaming_data_pipeline_capstone_spark.operators.multimodal import (
        decode_bmp_pixels,
    )

    with pytest.raises(ValueError):
        decode_bmp_pixels(b"\x89PNG not a bmp" + b"\0" * 64)


def test_decode_image_permissive_nulls(spark):
    """A corrupt/non-BMP payload yields a null summary row (checksum kept
    for dead-lettering) instead of failing the job — the PERMISSIVE-reader
    contract the docstring promises."""
    from streaming_data_pipeline_capstone_spark.operators.multimodal import (
        decode_image,
    )

    grid = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]
    good = _make_bmp(grid)
    bad = b"\x89PNG definitely not a bmp" + b"\0" * 64
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad))], "img_id int, payload binary"
    )
    rows = {r.img_id: r for r in decode_image(df, id_cols=("img_id",)).collect()}
    assert rows[1].width == 2 and rows[1].height == 2
    assert rows[2].width is None and rows[2].mean_rgb is None
    assert rows[2].checksum is not None  # dead-letter key survives


def test_multimodal_video_stub_marked(spark):
    import pytest

    from streaming_data_pipeline_capstone_spark.operators.multimodal import (
        sample_video_frames,
    )

    with pytest.raises(NotImplementedError):
        sample_video_frames(spark.range(1))


def test_brute_force_pairs_with_empty_blocks(spark):
    """ids all in one residue class → most blocks empty; cross tasks with
    an empty partner must emit nothing (regression: they previously fell
    into the self-pair path and duplicated within-block pairs)."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import brute_force_pairs

    # vec_id ≡ 0 (mod 8) for every row
    rows = [(i * 8, [float(i + 1), 0.0, 1.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_pairs(df, threshold=-1.0, num_blocks=8).collect()
    pairs = sorted((r["id1"], r["id2"]) for r in out)
    expect = sorted((a * 8, b * 8) for a in range(5) for b in range(a + 1, 5))
    assert pairs == expect  # every pair exactly once


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, pair 10-11, chain 20-21-22 (via transitive edges only),
    singleton edges excluded by construction."""
    from streaming_data_pipeline_capstone_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22)], "doc1 long, doc2 long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_kmeans_ivf_recall_vs_bruteforce(spark, sf_oracle):
    """Quality gate for the trained-centroid IVF (its deterministic-Lloyd
    pipeline is ALSO hash-checked against a DuckDB oracle since round 3 —
    this test guards the orthogonal property): recall@10 against
    exhaustive brute-force cosine top-10 must be >= 0.8. Probing nprobe
    cells trades a bounded amount of recall for a corpus-fraction scan."""
    from streaming_data_pipeline_capstone_spark.queries.extras import sim_topk_kmeans_ivf
    from streaming_data_pipeline_capstone_spark.queries.llm_ops import sim_topk_bruteforce

    ivf_top10 = {r["vec_id"] for r in sim_topk_kmeans_ivf(spark, sf_oracle).collect()}
    brute_top10 = {
        r["vec_id"] for r in sim_topk_bruteforce(spark, sf_oracle).limit(10).collect()
    }
    recall = len(ivf_top10 & brute_top10) / len(brute_top10)
    assert recall >= 0.8, (recall, ivf_top10, brute_top10)


def test_pq_adc_recall_vs_exact_l2(spark, sf_oracle):
    """PQ/ADC quality gate. The encode+ADC math is hash-checked against
    the DuckDB oracle; this guards retrieval quality: recall@10 of the
    ADC top-10 against EXACT squared-L2 top-10 (same metric — brute-force
    cosine would be a metric mismatch on unnormalized vectors). Isotropic
    random embeddings are PQ's worst case (no cluster structure for the
    codebooks to exploit; 4 subspaces × 8 codes ≈ 12 bits/vector), so the
    floor is deliberately modest — it exists to catch the machinery
    breaking (recall collapsing to ~1/50 chance level), not to certify
    benchmark-grade ANN quality on synthetic noise."""
    from streaming_data_pipeline_capstone_spark.queries.extras import sim_pq_topk

    emb = read_table(spark, sf_oracle, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    diff = F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b))
    exact = (
        vecs.crossJoin(F.broadcast(q))
        .select("vec_id", F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x).alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(10)
    )
    exact_ids = {r["vec_id"] for r in exact.collect()}
    pq_ids = {r["vec_id"] for r in sim_pq_topk(spark, sf_oracle).collect()}
    recall = len(exact_ids & pq_ids) / 10
    assert recall >= 0.3, (recall, pq_ids, exact_ids)


def test_banded_lsh_config_rule():
    """The corpus-scaled band config: reproduces the
    proven (4, 16) at every SF the correctness gate runs, scales planes to
    hold bucket occupancy at sf10+, and always clears the theoretical
    recall floor at the registered threshold."""
    import math

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        banded_lsh_config,
    )
    from streaming_data_pipeline_capstone_spark.queries.llm_ops import _SIM_T

    assert banded_lsh_config(500, _SIM_T) == (4, 16)     # sf0.01 (gate)
    assert banded_lsh_config(2_000, _SIM_T) == (4, 16)   # sf0.1
    assert banded_lsh_config(20_000, _SIM_T) == (4, 16)  # sf1 (proven)
    planes10, bands10 = banded_lsh_config(200_000, _SIM_T)
    assert planes10 > 4, "sf10 config must narrow buckets"
    p = 1.0 - math.acos(_SIM_T) / math.pi
    for n in (500, 20_000, 200_000, 2_000_000):
        planes, bands = banded_lsh_config(n, _SIM_T)
        recall_floor = 1.0 - (1.0 - p**planes) ** bands
        assert recall_floor >= 0.9, (n, planes, bands, recall_floor)
        # occupancy stays bounded: within 2x of the sf1-proven target
        assert n / 2**planes <= 2 * 1250, (n, planes)


def test_lsh_banded_scaled_config_recall():
    """Empirical recall gate for the SCALED config: per-pair collision
    probability is corpus-size independent, so running sf10's (7, 66)
    parameters against the sf0.1 corpus (where exact ground truth is
    computable) certifies the recall the same config delivers at 200k+
    vectors. Verification stays exact, so precision must be 1.0."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        banded_lsh_config,
        brute_force_pairs,
        lsh_similar_pairs,
    )
    from streaming_data_pipeline_capstone_spark.queries.llm_ops import _SIM_T
    from streaming_data_pipeline_capstone_spark.session import get_spark
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    spark = get_spark(app_name="sdpc-tests")
    planes, bands = banded_lsh_config(200_000, _SIM_T)
    emb = read_table(spark, "/root/testdata/sf0.1", "embeddings")
    truth = {
        (r.id1, r.id2) for r in brute_force_pairs(emb, threshold=_SIM_T).collect()
    }
    got = {
        (r.id1, r.id2)
        for r in lsh_similar_pairs(
            emb, threshold=_SIM_T, num_planes=planes, num_bands=bands
        ).collect()
    }
    assert truth, "ground truth empty"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, (recall, len(got), len(truth), planes, bands)
    assert not (got - truth)


def test_band_batch_row_identical_to_single_job(spark):
    """Round-8 peak-disk bound: processing bands in sequential groups
    (band_batch) must return EXACTLY the single-job pair set and scores —
    the first-match-band rule tests the global signature prefix, so group
    outputs are disjoint and their union is the one-shuffle plan's
    output. Also pins the batch-size rule: no batching below the peak
    threshold, corpus-bytes-bounded groups above it."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        banded_lsh_band_batch,
        lsh_similar_pairs,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    single = {
        (r.id1, r.id2): r.cosine_sim
        for r in lsh_similar_pairs(
            emb, threshold=0.4, num_planes=4, num_bands=8
        ).collect()
    }
    batched = {
        (r.id1, r.id2): r.cosine_sim
        for r in lsh_similar_pairs(
            emb, threshold=0.4, num_planes=4, num_bands=8, band_batch=3
        ).collect()
    }
    assert single, "fixture should produce pairs"
    assert batched == single

    # batch-size rule: sandbox corpora run single-job; the 2M-vector
    # corpus (whose 65-band shuffle out-spilled the sandbox disk) splits
    # into groups bounded by the 8 GiB peak target
    assert banded_lsh_band_batch(200_000, 66) is None
    bb = banded_lsh_band_batch(2_000_000, 65)
    assert bb is not None and 1 <= bb < 65
    row_bytes = 4 * 64 + 65 + 48
    assert 2_000_000 * bb * row_bytes <= (8 << 30)


def test_fixed_codebook_reproduces_training_at_sf001(spark, sf_oracle):
    """The shipped codebook (queries/codebooks.py) was trained on the
    sf0.01 embeddings, so at sf0.01 the fixed-codebook queries must
    reproduce the per-invocation-trained ones EXACTLY — codes, ADC top-k
    and IVF probe alike. Guards the generated artifact against drifting
    from tools/train_codebooks.py's recipe."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        emb_pq_encode,
        emb_pq_encode_fixed,
        sim_pq_topk,
        sim_pq_topk_fixed,
        sim_topk_kmeans_ivf,
        sim_topk_kmeans_ivf_fixed,
    )

    for trained_fn, fixed_fn in [
        (emb_pq_encode, emb_pq_encode_fixed),
        (sim_pq_topk, sim_pq_topk_fixed),
        (sim_topk_kmeans_ivf, sim_topk_kmeans_ivf_fixed),
    ]:
        trained = sorted(map(tuple, trained_fn(spark, sf_oracle).collect()))
        fixed = sorted(map(tuple, fixed_fn(spark, sf_oracle).collect()))
        assert trained == fixed, trained_fn.__name__


def test_minhash_pre_dedup_kills_hot_bucket(spark):
    """The documented hot-bucket hazard (operators/dedup.py
    _bucket_pair_instances): N byte-identical docs share every LSH bucket,
    so candidate generation emits N(N-1)/2 pairs from one task. With
    pre_dedup=True the identical docs collapse to one representative
    BEFORE shingling, so the pathological corpus produces only the pairs
    among distinct contents — constant, not quadratic."""
    n_clones = 300
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(n_clones)]
    rows += [
        (1000, "the quick brown fox jumps over the lazy dog today"),  # near-dup of clones
        (2000, "completely unrelated text about distributed shuffle planning"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    collapsed = minhash_lsh_dedup(df, "doc_id", "text", 0.5, pre_dedup=True)
    pairs = collapsed.collect()
    # one representative (min id 0) for the clone group; its near-dup pair
    # survives, and nothing quadratic: pairs over distinct contents only.
    assert len(pairs) == 1, pairs
    assert (pairs[0]["doc1"], pairs[0]["doc2"]) == (0, 1000)

    # control: without the collapse the same corpus really is quadratic
    # in candidate pairs — the hazard is real, not hypothetical.
    from streaming_data_pipeline_capstone_spark.operators.dedup import (
        candidate_pairs_from_bands,
        lsh_bands,
        minhash_signatures,
        shingle_sets,
    )

    raw_cands = candidate_pairs_from_bands(
        lsh_bands(minhash_signatures(shingle_sets(df, "doc_id", "text")))
    ).count()
    assert raw_cands >= n_clones * (n_clones - 1) // 2


def test_minhash_signatures_match_explode_groupby_reference(spark):
    """The exchange-free ``array_min(transform(...))`` signatures equal the
    explode -> groupBy(doc) -> min reference, which drops a null-text doc.
    Each md5 seed gives its own columns: a lambda that binds the seed to
    the array index hashes every seed identically, and the LSH oracles do
    not notice."""
    from streaming_data_pipeline_capstone_spark.operators.dedup import (
        minhash_signatures,
        shingle_sets,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "streaming engines keep state per key across micro batches"),
        (4, "two words"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sets_df = shingle_sets(docs, "doc_id", "text")
    num_hashes = 8
    got = {r["doc"]: tuple(r[1:]) for r in minhash_signatures(sets_df, num_hashes).collect()}

    exploded = sets_df.select("doc", F.explode("shingles").alias("sh"))
    ref_df = exploded.groupBy("doc").agg(
        *[
            F.min(F.substring(F.md5(F.concat(F.lit(f"{i // 4}|"), "sh")), (i % 4) * 8 + 1, 8))
            for i in range(num_hashes)
        ]
    )
    ref = {r["doc"]: tuple(r[1:]) for r in ref_df.collect()}
    assert got == ref and set(got) == {1, 2, 3, 4}
    for sig in got.values():
        assert sig[:4] != sig[4:], sig
        assert len(set(sig)) > 1, sig


def test_lsh_banded_pairs_recall_vs_bruteforce(spark, sf_oracle):
    """Recall gate for the hyperplane-LSH pair path.

    The registered band parameters must clear the 0.9 recall target TWICE:
    in theory — 1-(1-p^planes)^bands >= 0.9 for a pair sitting exactly at
    the threshold (the hardest case; every pair above it collides more
    often) — and empirically against exact blocked all-pairs ground truth
    at sf0.01. The theory assertion is what "num_planes chosen by the
    test" means: change the parameters to something that can't clear the
    bar and this fails before any data is read. Verification is exact, so
    precision must be 1.0 — the gate also asserts no false positives.

    This test is what caught the correlated-planes bug: raw
    sin(j*1009+i) planes all lie in span{sin(i), cos(i)}, so banding
    couldn't raise recall past ~0.7 regardless of band count (see
    operators/similarity.hyperplane_signature).
    """
    import math

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        brute_force_pairs,
        lsh_similar_pairs,
    )
    from streaming_data_pipeline_capstone_spark.queries.llm_ops import (
        _BAND_PLANES,
        _N_BANDS,
        _SIM_T,
    )

    TARGET = 0.9
    p = 1.0 - math.acos(_SIM_T) / math.pi
    theoretical_floor = 1.0 - (1.0 - p**_BAND_PLANES) ** _N_BANDS
    assert theoretical_floor >= TARGET, (
        f"band parameters planes={_BAND_PLANES} bands={_N_BANDS} cannot "
        f"reach {TARGET} recall at threshold {_SIM_T} even in theory "
        f"({theoretical_floor:.3f})"
    )

    emb = read_table(spark, sf_oracle, "embeddings")
    truth = {
        (r.id1, r.id2) for r in brute_force_pairs(emb, threshold=_SIM_T).collect()
    }
    got = {
        (r.id1, r.id2)
        for r in lsh_similar_pairs(
            emb, threshold=_SIM_T, num_planes=_BAND_PLANES, num_bands=_N_BANDS
        ).collect()
    }
    assert truth, "ground truth empty — threshold/SF mismatch"
    recall = len(got & truth) / len(truth)
    assert recall >= TARGET, (recall, len(got), len(truth))
    assert not (got - truth), f"false positives escaped exact verification: {got - truth}"


def test_neardup_gate_plants_are_found_and_are_near(spark, sf_oracle):
    """The de-vacuated near-dup gate (r10): every planted (source,
    source+OFF) pair must come out of the registered query with cosine in
    the NEAR-dup band (≥ threshold but < 1 — the perturbation is real,
    not an exact copy), and no planted id may pair with anything but its
    own source (the plant can't pollute the natural-pair semantics)."""
    from streaming_data_pipeline_capstone_spark.queries.llm_ops import (
        _NEARDUP_PLANT_MOD,
        _NEARDUP_PLANT_OFF,
        _NEARDUP_T,
        sim_lsh_pairs_banded_neardup,
    )

    rows = sim_lsh_pairs_banded_neardup(spark, sf_oracle).collect()
    assert rows, "gate corpus must produce planted pairs"
    n_src = read_table(spark, sf_oracle, "embeddings").count()
    expect = {
        (v, v + _NEARDUP_PLANT_OFF)
        for v in range(0, n_src, _NEARDUP_PLANT_MOD)
    }
    got = {(r.id1, r.id2) for r in rows}
    assert expect <= got
    for r in rows:
        assert r.cosine_sim >= _NEARDUP_T
        if r.id2 >= _NEARDUP_PLANT_OFF:
            # a planted copy may only pair with its own source
            assert (r.id1, r.id2) in expect
            assert r.cosine_sim < 1.0, "plant must be a NEAR dup, not exact"


def test_materialized_planes_bit_equal_inline(spark):
    """The launch-cost fix (materialize_planes → literal planes) must not
    move a single plane coefficient: the HOF-evaluated constants have to
    be bit-identical to the original inline sin trees, else bucket
    membership — and the oracle hashes — could silently shift."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        _plane_component,
        materialize_planes,
    )

    dim = 64
    js = [0, 7, 63]  # first, mid-band, last plane of the banded config
    got = materialize_planes(spark, js, dim)
    row = spark.range(1).select(
        *[
            F.array(*[_plane_component(j, i) for i in range(dim)]).alias(f"p{j}")
            for j in js
        ]
    ).head()
    for j, plane in zip(js, got):
        assert plane == [float(x) for x in row[f"p{j}"]], f"plane {j} drifted"
