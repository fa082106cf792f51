"""Coverage-completing queries: F3 affine raster transform, the U-3 ML
scorer stub, GROUPING SETS, and the IVF-bucketed similarity scale path.

F3 mirrors the reference's geo→pixel transform (``_util.py:8-56``): the six
affine coefficients are raster constants, so they are computed ONCE
driver-side and applied as a native linear Column expression — the per-point
2×2 matrix inversion the reference did inside a Python UDF disappears.

The IVF variant is the 100 TB design for similarity search: a deterministic
coarse quantizer (sign pattern of fixed pseudo-random projections) buckets
every vector; a query probes only its own cell, turning an all-pairs scan
into a bucket-local one. At cluster scale the table would be written
partitioned by ``ivf_cell`` so the probe is a partition-pruned scan.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.functions.geo import affine_coefficients, apply_affine
from streaming_data_pipeline_capstone_spark.index_store import cached_build, source_mtime
from streaming_data_pipeline_capstone_spark.operators.ann_layout import read_cell_layout
from streaming_data_pipeline_capstone_spark.operators.similarity import cosine, lit_double_array
from streaming_data_pipeline_capstone_spark.plans.predict import path_score
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

# same pseudo-coordinate derivation as queries/scalars.py
_LON_SQL = "CAST(105 + user_id % 18 AS DOUBLE) + 0.25"
_LAT_SQL = "CAST(7 + event_id % 16 AS DOUBLE) + 0.5"

# -- F3: affine geo→pixel (reference _util.py:8-56, reference bbox corners) --
_CORNERS = [(105.0, 7.0), (123.0, 23.0)]
_W_PX, _H_PX = 1920, 1080
_COEF = affine_coefficients(_CORNERS, _W_PX, _H_PX)


@register(
    "scalar_affine_pixel",
    f"""
    SELECT event_id,
           round({_COEF[0]!r} * ({_LON_SQL}) + {_COEF[1]!r} * ({_LAT_SQL})
                 + {_COEF[2]!r}, 6) AS px,
           round({_COEF[3]!r} * ({_LON_SQL}) + {_COEF[4]!r} * ({_LAT_SQL})
                 + {_COEF[5]!r}, 6) AS py
    FROM events
    """,
)
def scalar_affine_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    events = events.withColumn("lon", F.expr(_LON_SQL)).withColumn("lat", F.expr(_LAT_SQL))
    px, py = apply_affine("lon", "lat", _COEF)
    return events.select(
        "event_id", F.round(px, 6).alias("px"), F.round(py, 6).alias("py")
    )


# -- U-3: ML trajectory-scorer stub (README.md:5-6,94,98) --------------------
# The model is a deterministic placeholder hosted the 100 TB-safe way (an
# Arrow-batched pandas_udf); its arithmetic is simple enough that the DuckDB
# oracle can replicate it exactly, so even the UDF path gets a value check.
@register(
    "ml_score_stub",
    """
    SELECT event_id, user_id,
           round(value * 0.1 + (event_id % 360) * 0.01, 6) AS path_score
    FROM events
    """,
)
def ml_score_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "user_id",
        path_score(F.col("value"), (F.col("event_id") % 360).cast("double")).alias("path_score"),
    )


# -- GROUPING SETS (completes the cube/rollup family, SURVEY §2.5) -----------
@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# -- X3d: Arrow-vectorized brute-force top-k (the wide-fanout scale path) ----
# Same oracle as sim_topk_bruteforce: identical semantics, different physical
# path — a numpy-batch pandas_udf instead of interpreted higher-order Column
# functions. At 100 TB this is how you score millions of candidates per
# partition: one BLAS matrix-vector product per Arrow batch; the tiny query
# vector ships driver→executor as a closure constant, never joined.
@register(
    "sim_topk_pandas",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cosine_sim
    FROM e CROSS JOIN q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 20
    """,
)
def sim_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    emb = read_table(spark, sf_dir, "embeddings")
    qv = np.asarray(
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0], dtype=np.float64
    )
    qn = float(np.sqrt((qv * qv).sum()))

    @pandas_udf("double")
    def cos(col):
        m = np.stack(col.to_numpy()).astype(np.float64)
        return pd.Series((m @ qv) / (np.sqrt((m * m).sum(axis=1)) * qn))

    return (
        emb.select("vec_id", F.round(cos("embedding"), 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(20)
    )


# -- X3c: IVF-bucketed ANN (the partition-pruned scale path) -----------------
_IVF_DIM = 64
_N_PROJ = 3  # 2^3 = 8 coarse cells


def _proj_sql(j: int) -> str:
    # same fixed pseudo-random hyperplane family as operators/similarity.py
    return (
        f"list_sum(list_transform(range(1, {_IVF_DIM}+1),"
        f" i -> v[i] * sin({j} * 2003 + i - 1)))"
    )


_CELL_SQL = "concat(" + ", ".join(
    f"CASE WHEN {_proj_sql(j)} > 0 THEN '1' ELSE '0' END" for j in range(_N_PROJ)
) + ")"


def ivf_cell(vec: F.Column) -> F.Column:
    """Deterministic coarse quantizer: sign pattern of _N_PROJ fixed
    projections."""
    bits = []
    for j in range(_N_PROJ):
        proj = F.aggregate(
            F.transform(
                vec,
                lambda x, i: x.cast("double") * F.sin(F.lit(float(j * 2003)) + i.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


# -- the FULL AIS preprocess chain, oracle-replicated end to end -------------
# events dressed as wire JSON (lat range widened so the bbox filter actually
# drops rows) → envelope decode → WKT extract → bbox → ECEF → quoted-'Z'
# timestamp parse (floor to second) → sentinel null-out → signed ROT decode.
# The oracle recomputes every derivation from the source columns — the JSON
# and WKT string roundtrips are lossless (shortest-round-trip doubles; exact
# .25/.5 fractions), so values match bit-for-bit before rounding.
_ECEF_N = (
    "(6378137.0 / sqrt(1.0 - ((1.0/298.257223563)*(2.0 - 1.0/298.257223563))"
    " * pow(sin(radians(lat)), 2)))"
)


@register(
    "pipeline_preprocess_full",
    f"""
    WITH src AS (
      SELECT user_id, event_id, value,
             date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_s,
             105.0 + CAST(user_id % 18 AS DOUBLE) + 0.25 AS lon,
             5.0 + CAST(event_id % 20 AS DOUBLE) + 0.5 AS lat
      FROM events
    ), kept AS (
      SELECT * FROM src
      WHERE lat > 7.0 AND lat < 23.0 AND lon > 105.0 AND lon < 123.0
    )
    SELECT CAST(user_id AS BIGINT) AS mmsi,
           ts_s AS timestamp_utc,
           round(value, 6) AS speed_over_ground,
           round(value * 7 % 360, 6) AS course_over_ground,
           CASE WHEN event_id % 11 = 0 THEN NULL
                ELSE round(sign(value % 20 - 10)
                           * pow(abs(value % 20 - 10) / 4.733, 2), 6)
           END AS rate_of_turn,
           lon AS longitude,
           lat AS latitude,
           round(({_ECEF_N} + 124.0) * cos(radians(lat)) * cos(radians(lon)), 4)
             AS cartesian_x,
           round(({_ECEF_N} + 124.0) * cos(radians(lat)) * sin(radians(lon)), 4)
             AS cartesian_y,
           CASE WHEN event_id % 9 = 0 THEN NULL
                ELSE round(value % 360, 6) END AS true_heading
    FROM kept
    """,
)
def pipeline_preprocess_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.plans.preprocess import (
        preprocess_from_envelope,
    )
    from streaming_data_pipeline_capstone_spark.sources.replay import ais_wire_from_events

    events = read_table(spark, sf_dir, "events")
    wire = ais_wire_from_events(events)
    processed = preprocess_from_envelope(wire, decode_rot=True)
    return processed.select(
        "mmsi",
        "timestamp_utc",
        F.round("speed_over_ground", 6).alias("speed_over_ground"),
        F.round("course_over_ground", 6).alias("course_over_ground"),
        F.round("rate_of_turn", 6).alias("rate_of_turn"),
        "longitude",
        "latitude",
        F.round("cartesian_x", 4).alias("cartesian_x"),
        F.round("cartesian_y", 4).alias("cartesian_y"),
        F.round("true_heading", 6).alias("true_heading"),
    )


# -- the FULL predict chain (entry point C batch twin), oracle-replicated ----
# last-3-per-key rank (W1/W2) → per-key step distance (F7, haversine over
# lag) → path angle through the two previous kept points (F8, atan2) →
# pandas_udf trajectory score (U-3). One hash exchange on the key serves
# the rank and every window behind it.
@register(
    "pipeline_predict_full",
    """
    WITH src AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             105.0 + CAST(user_id % 18 AS DOUBLE) + 0.25 AS lon,
             7.0 + CAST(event_id % 16 AS DOUBLE) + 0.5 AS lat
      FROM events
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS INTEGER) AS rn
      FROM src
    ), kept AS (
      SELECT * FROM ranked WHERE rn <= 3
    ), lagged AS (
      SELECT *,
             lag(lon) OVER w AS lon_p, lag(lat) OVER w AS lat_p,
             lag(lon, 2) OVER w AS lon_p2, lag(lat, 2) OVER w AS lat_p2
      FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, rn,
           round(2.0 * 6371.0 * asin(sqrt(
             pow(sin((radians(lat) - radians(lat_p)) / 2), 2)
             + cos(radians(lat_p)) * cos(radians(lat))
               * pow(sin((radians(lon) - radians(lon_p)) / 2), 2)
           )), 4) AS step_km,
           round(CASE
             WHEN degrees(abs(atan2(lat - lat_p, lon - lon_p)
                            - atan2(lat_p - lat_p2, lon_p - lon_p2))) > 180.0
             THEN 360.0 - degrees(abs(atan2(lat - lat_p, lon - lon_p)
                                     - atan2(lat_p - lat_p2, lon_p - lon_p2)))
             ELSE degrees(abs(atan2(lat - lat_p, lon - lon_p)
                             - atan2(lat_p - lat_p2, lon_p - lon_p2)))
           END, 6) AS path_angle,
           round(value * 0.1
                 + coalesce(round(CASE
                     WHEN degrees(abs(atan2(lat - lat_p, lon - lon_p)
                                    - atan2(lat_p - lat_p2, lon_p - lon_p2))) > 180.0
                     THEN 360.0 - degrees(abs(atan2(lat - lat_p, lon - lon_p)
                                             - atan2(lat_p - lat_p2, lon_p - lon_p2)))
                     ELSE degrees(abs(atan2(lat - lat_p, lon - lon_p)
                                     - atan2(lat_p - lat_p2, lon_p - lon_p2)))
                   END, 6), 0.0) * 0.01, 6) AS path_score
    FROM lagged
    """,
)
def pipeline_predict_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from streaming_data_pipeline_capstone_spark.functions.geo import haversine_km, path_angle_deg
    from streaming_data_pipeline_capstone_spark.operators.windows import last_k_per_key

    events = read_table(spark, sf_dir, "events")
    src = events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.lit(105.0) + (F.col("user_id") % 18).cast("double") + F.lit(0.25)).alias("lon"),
        (F.lit(7.0) + (F.col("event_id") % 16).cast("double") + F.lit(0.5)).alias("lat"),
    )
    kept = last_k_per_key(src, key="user_id", order_col="ts", k=3, tiebreak="event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = (
        kept.withColumn("lon_p", F.lag("lon").over(w))
        .withColumn("lat_p", F.lag("lat").over(w))
        .withColumn("lon_p2", F.lag("lon", 2).over(w))
        .withColumn("lat_p2", F.lag("lat", 2).over(w))
    )
    angle = F.round(
        path_angle_deg("lon_p2", "lat_p2", "lon_p", "lat_p", "lon", "lat"), 6
    )
    return lagged.select(
        "user_id",
        "event_id",
        "rn",
        F.round(haversine_km("lon_p", "lat_p", "lon", "lat"), 4).alias("step_km"),
        angle.alias("path_angle"),
        path_score(F.col("value"), angle).alias("path_score"),
    )


# -- exact percentiles (A-family breadth: ordered-set aggregates) ------------
@register(
    "agg_percentiles",
    """
    SELECT o_orderstatus,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90,
           round(percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == ANSI
    percentile_cont). The approx twin for 100 TB is `approx_percentile`,
    same call shape — exact here so the oracle can value-match."""
    orders = read_table(spark, sf_dir, "orders")
    pct = lambda p: F.round(F.expr(f"percentile(o_totalprice, {p})"), 4)  # noqa: E731
    return orders.groupBy("o_orderstatus").agg(
        pct(0.5).alias("p50"), pct(0.9).alias("p90"), pct(0.99).alias("p99")
    )


# -- statistical aggregates (A-family breadth) -------------------------------
@register(
    "agg_stats_lineitem",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(skewness(l_discount)
                 * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)), 4) AS skew_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        # Spark's skewness is the POPULATION estimator; DuckDB's is
        # sample-bias-corrected (factor sqrt(n(n-1))/(n-2), ~3.6e-5 abs at
        # sf0.001 — enough to flip a 4 dp rounding boundary). The oracle
        # multiplies DuckDB's out by (n-2)/sqrt(n(n-1)) to match.
        F.round(F.skewness("l_discount"), 4).alias("skew_disc"),
    )


# -- duplicate clusters: connected components over near-dup pairs ------------
# After pair generation, real dedup keeps one doc per CLUSTER (transitive
# closure), not per pair. Spark side: iterative min-label propagation
# (operators/dedup.connected_components). Oracle: recursive CTE transitive
# closure — min reachable id == converged min label. Pairs here come from
# exact n-gram Jaccard ≥ 0.6 so both engines agree on the edge set.
@register(
    "dedup_clusters",
    """
    WITH RECURSIVE sets AS (
      SELECT doc_id AS doc,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t)-1),
                         i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) END AS shingles
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents)
    ),
    sh AS (SELECT doc, unnest(shingles) AS s FROM sets),
    cand AS (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
    ),
    verified AS (
      SELECT d1, d2 FROM cand
      JOIN sets s1 ON s1.doc = d1 JOIN sets s2 ON s2.doc = d2
      WHERE round(CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
              / (len(s1.shingles) + len(s2.shingles)
                 - len(list_intersect(s1.shingles, s2.shingles))), 6) >= 0.6
    ),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM verified
      UNION SELECT d2, d1 FROM verified
    ),
    reach AS (
      SELECT a AS d, a AS m FROM edges
      UNION
      SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.d
    )
    SELECT d AS node, MIN(m) AS component
    FROM reach GROUP BY d
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.dedup import (
        connected_components,
        minhash_lsh_dedup,
    )

    docs = read_table(spark, sf_dir, "documents")
    # Candidates come from the LSH scale path, not the exact inverted
    # index: at sf100 the exact path's shingle-bucket pair enumeration
    # spilled past this sandbox's disk (55 GB) while the LSH pipeline ran
    # in 75 s. The pair set is identical at this threshold/config —
    # tests/test_llm_ops.py pins LSH == exact n-gram Jaccard with full
    # recall and no false positives — so the components (and the DuckDB
    # oracle, which unrolls the exact path) are unchanged.
    pairs = minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.6)
    return connected_components(pairs)


# -- tokenizer-style counting + rolling-hash fingerprint ---------------------
# The mandate's "token counting (whitespace + a BPE-ish regex)" and
# "document fingerprinting (rolling hash)" items. The BPE-ish pattern
# splits letter runs / digit runs / single punctuation (the shape of
# GPT-2-style pre-tokenization); the rolling hash is a Rabin-Karp
# polynomial over character codes, mod-reduced each step so the exact
# integer sequence is identical in Spark (wrapping longs) and DuckDB
# (overflow-checked BIGINT). Documents are ASCII (ascii == unicode).
_BPE_PAT = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
_RH_BASE, _RH_MOD = 131, 1_000_000_000_000_007


@register(
    "text_token_rolling",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents)
    SELECT doc_id,
           len(string_split_regex(lower(trim(text)), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '{_BPE_PAT}')) AS bpe_tokens,
           -- guard: list_reduce with no initial value errors on an empty
           -- list; Spark's F.aggregate has a 0 seed, so an empty document
           -- must yield 0 here too
           CASE WHEN text IS NULL THEN NULL
                WHEN length(text) = 0 THEN 0
                ELSE list_reduce(
                  list_transform(string_split_regex(text, ''), x -> CAST(unicode(x) AS BIGINT)),
                  (a, b) -> (a * {_RH_BASE} + b) % {_RH_MOD}
                ) END AS rolling_hash
    FROM d
    """,
)
def text_token_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.textstats import token_count

    docs = read_table(spark, sf_dir, "documents")
    chars = F.filter(F.split("text", ""), lambda x: x != "")
    rolling = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * _RH_BASE + F.ascii(x)) % F.lit(_RH_MOD),
    )
    return docs.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), 0)
        ).alias("bpe_tokens"),
        rolling.alias("rolling_hash"),
    )


# -- deterministic train/val/test split (reproducible sampling) --------------
@register(
    "split_train_val_test",
    """
    WITH b AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 10000 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM b GROUP BY 1
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 split by id hash: membership depends only on
    the id, so it is stable across runs, engines, and re-ingests — the
    DuckDB oracle recomputing it independently IS the stability proof."""
    from streaming_data_pipeline_capstone_spark.operators.textstats import hash_split

    docs = read_table(spark, sf_dir, "documents")
    labeled = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return labeled.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# -- table profiling (data-quality summary, one row per column) --------------
_PROFILE_COL = """
    SELECT '{c}' AS "column",
           count(*) AS n_rows,
           count(*) - count({c}) AS n_null,
           round(CAST(count(*) - count({c}) AS DOUBLE) / greatest(count(*), 1), 6) AS null_frac,
           count(DISTINCT {c}) AS n_distinct_approx,
           CAST(min({c}) AS VARCHAR) AS "min",
           CAST(max({c}) AS VARCHAR) AS "max"
    FROM orders
"""


@register(
    "profile_orders",
    " UNION ALL ".join(
        _PROFILE_COL.format(c=c)
        for c in [
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ]
    ),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile (exact distinct for the oracle; the
    production path uses HLL via profile_table(exact=False))."""
    from streaming_data_pipeline_capstone_spark.operators.profile import profile_table

    orders = read_table(spark, sf_dir, "orders")
    return profile_table(orders, exact=True)


# -- salted join through the correctness gate --------------------------------
# The oracle is the PLAIN join: salting must change only the physical
# distribution, never the logical answer, and the driver's hash compare
# proves it on real data.
@register(
    "join_salted_revenue",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, on="l_orderkey", salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


# -- string scalar breadth (F-family: edit distance, pad, translate, split) --
@register(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           levenshtein(split_part(p_name, ' ', 1), split_part(p_name, ' ', 2)) AS lev_first_two,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           translate(p_brand, '#', '-') AS brand_dashed,
           reverse(split_part(p_name, ' ', 1)) AS first_rev,
           upper(p_type) AS type_upper,
           length(p_name) AS name_len,
           rpad(p_brand, 12, '.') AS brand_padded,
           trim(concat('  ', p_name, '  ')) AS name_trimmed
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    first = F.split_part(F.col("p_name"), F.lit(" "), F.lit(1))
    second = F.split_part(F.col("p_name"), F.lit(" "), F.lit(2))
    return part.select(
        "p_partkey",
        F.levenshtein(first, second).alias("lev_first_two"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.reverse(first).alias("first_rev"),
        F.upper("p_type").alias("type_upper"),
        F.length("p_name").alias("name_len"),
        # F10: the reference's fixed-width framing pair (ljust/strip,
        # server.py:55 / client.py:22) as native rpad/trim
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trimmed"),
    )


# -- datetime scalar breadth (F-family: truncation, parts, arithmetic) -------
@register(
    "scalar_datetime_parts",
    """
    SELECT o_orderkey,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS order_month,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
           CAST(CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS VARCHAR) AS due_date
    FROM orders
    """,
)
def scalar_datetime_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date part extraction / truncation / arithmetic. DuckDB dayofweek is
    0=Sunday vs Spark 1=Sunday — bridged by Spark's `weekday`+conversion?
    No: Spark dayofweek is 1=Sunday..7; DuckDB dayofweek 0=Sunday..6, so
    Spark emits dayofweek-1 to match ANSI-ish 0-based."""
    orders = read_table(spark, sf_dir, "orders")
    # dates emitted as yyyy-MM-dd strings: DATE columns surface as
    # date-vs-midnight-timestamp inconsistently across engine drivers
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("y"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 90), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


# -- X5b: multimodal feature extraction (the mapInPandas Arrow path) ---------
# The fake decode (first FEATURE_DIM payload bytes / 255, zero-padded) is
# deterministic, so even the Python-worker path gets a full DuckDB value
# check: documents are ASCII, so byte i == unicode(char i), and both engines
# pass the value through float32 so the doubles compare bit-identically.
# Output is EXPLODED to one (doc_id, idx, feature) row per vector element:
# the driver's canonicalizer hashes scalar columns (an array<double> column
# is unhashable in its pandas sort path — the round-1 red row).
@register(
    "multimodal_extract_features",
    """
    SELECT doc_id,
           md5(text) AS checksum,
           CAST(i.idx AS INT) AS idx,
           CASE WHEN i.idx + 1 <= length(text)
                THEN CAST(CAST(unicode(substr(text, CAST(i.idx + 1 AS INT), 1)) / 255.0 AS REAL) AS DOUBLE)
                ELSE 0.0 END AS feature
    FROM documents, (SELECT unnest(range(0, 8)) AS idx) i
    """,
)
def multimodal_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.multimodal import (
        extract_features,
        pack_binary,
    )

    docs = read_table(spark, sf_dir, "documents")
    packed = pack_binary(docs, "text")
    feats = extract_features(packed, id_cols=("doc_id",))
    return feats.select(
        "doc_id", "checksum", F.posexplode("features").alias("idx", "feature")
    ).select(
        "doc_id",
        "checksum",
        F.col("idx").cast("int").alias("idx"),
        F.col("feature").cast("double").alias("feature"),
    )


# -- X3e: IVF with TRAINED centroids (deterministic k-means, full oracle) ----
# The production IVF: centroids learned by k-means, vectors assigned to
# their nearest centroid's cell, a probe scans the NPROBE cells whose
# centroids are closest to the query (single-cell probing measured only
# 0.4 recall@10 on the test embeddings — multi-probe is the standard
# recall knob and still scans only nprobe/k of the corpus). Training uses
# operators/similarity.lloyd_kmeans_centroids — a deterministic Lloyd's
# loop (lowest-id init, first-min tie-break, per-iteration 6dp centroid
# rounding) chosen precisely so the ENTIRE pipeline, training included,
# unrolls into the DuckDB oracle below: _KMEANS_ITERS assignment+update
# rounds as CTEs, then the same multi-probe cosine top-k. The quality
# gate stays tests/test_llm_ops.py::test_kmeans_ivf_recall_vs_bruteforce
# (recall@10 >= 0.8 vs brute force).
#
# NPROBE is set off a recorded recall curve (git history at 78bf83b):
# full-precision IVF recall@10 on this corpus is 0.385/0.56/0.68/0.785/
# 0.845 at nprobe 1..5 of the k=8 coarse cells — 5 is the first value
# whose COMPOSED IVF-PQ+rerank config clears 0.8. k=8 cells is
# fixture-scale; at 100 TB the coarse book is k~2^14 and nprobe/k stays
# a small fraction — the plans below only depend on the ratio.
# Constants live in queries/ann_config.py (shared with the codebook
# trainer, which must not import this module mid-retrain).
from streaming_data_pipeline_capstone_spark.queries.ann_config import (  # noqa: E402
    EMB_DIM as _EMB_DIM,
    KMEANS_ITERS as _KMEANS_ITERS,
    KMEANS_K as _KMEANS_K,
    NPROBE as _NPROBE,
    PQ_ITERS as _PQ_ITERS,
    PQ_K as _PQ_K,
    PQ_SUB_DIM as _PQ_SUB_DIM,
    PQ_SUBS as _PQ_SUBS,
    RERANK as _RERANK,
    SPILL as _SPILL,
    SPILL_NPROBE as _SPILL_NPROBE,
)
from streaming_data_pipeline_capstone_spark.queries.codebooks import (  # noqa: E402
    KMEANS_CENTROIDS,
    PQ_BOOKS,
)


def _lloyd_sq(dim: int) -> str:
    """Squared-L2 between aliases ``e.v`` and ``c.cv`` (index-order sum)."""
    return (
        "list_sum(list_transform(range(1, {d}+1), "
        "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))"
    ).format(d=dim)


def _lloyd_assign_cte(
    name: str, src: str, cents: str, dim: int, spill: int = 1
) -> str:
    """CTE assigning each vector of ``src`` to its ``spill`` nearest
    ``cents`` centroids (first-min tie-break, matching Spark's
    array_position-of-array_min).

    MATERIALIZED: the PQ oracles join _PQ_SUBS of these on vec_id;
    inlined, DuckDB's planner faces a 32-way join of window subqueries
    and the fixed-encode oracle went from seconds to unbounded at the
    32-subspace codebook. Materializing pins each assignment to one
    evaluation and the join to 32 tiny tables (measured: >400 s → 5.8 s,
    values unchanged)."""
    return f"""{name} AS MATERIALIZED (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_lloyd_sq(dim)} ASC, c.cell ASC) AS rn
        FROM {src} e, {cents} c) WHERE rn <= {spill})"""


def _lloyd_ctes(src: str, pfx: str, dim: int, k: int, iters: int) -> tuple[list[str], str]:
    """Unrolled deterministic-Lloyd training over CTE ``src`` (vec_id, v).

    Returns (CTE list, final-centroid CTE name). Mirrors
    operators/similarity.lloyd_kmeans_centroids step for step: lowest-id
    init, first-min assignment, per-dim mean rounded to 6 dp (the
    cross-engine drift-killer), empty cells keep their previous centroid.
    """
    ctes = [
        f"""{pfx}c0 AS (SELECT cell, cv FROM (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv FROM {src}
        ) WHERE cell < {k})"""
    ]
    for it in range(1, iters + 1):
        prev = f"{pfx}c{it - 1}"
        ctes.append(_lloyd_assign_cte(f"{pfx}a{it}", src, prev, dim))
        ctes.append(
            f"""{pfx}m{it} AS (SELECT cell, idx, round(avg(v[idx]), 6) AS val
                FROM {pfx}a{it}, (SELECT unnest(range(1, {dim}+1)) AS idx) i
                GROUP BY cell, idx)"""
        )
        ctes.append(
            f"""{pfx}c{it} AS (SELECT p.cell, coalesce(n.cv, p.cv) AS cv
                FROM {prev} p LEFT JOIN (
                    SELECT cell, list(val ORDER BY idx) AS cv FROM {pfx}m{it} GROUP BY cell
                ) n USING (cell))"""
        )
    return ctes, f"{pfx}c{iters}"


def _values_cents_cte(name: str, mat: list[list[float]]) -> str:
    """CTE of literal centroids: ``name(cell, cv)``."""
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in row)}]::DOUBLE[])"
        for i, row in enumerate(mat)
    )
    return f"{name}(cell, cv) AS (SELECT * FROM (VALUES {rows}) t(cell, cv))"


_E_CTE = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)"


def _pq_assign_ctes(trained: bool = False) -> list[str]:
    """Per PQ subspace s of ``e``: the slice ``e{s}``, its codebook
    ``b{s}`` (the shipped literals, or unrolled Lloyd training when
    ``trained``) and each vector's code ``s{s}_af``."""
    ctes = []
    for s in range(_PQ_SUBS):
        lo = s * _PQ_SUB_DIM + 1
        ctes.append(
            f"e{s} AS (SELECT vec_id, list_slice(v, {lo}, {lo + _PQ_SUB_DIM - 1}) AS v FROM e)"
        )
        if trained:
            train, last = _lloyd_ctes(f"e{s}", f"s{s}_", _PQ_SUB_DIM, _PQ_K, _PQ_ITERS)
            ctes += train + [f"b{s} AS (SELECT * FROM {last})"]
        else:
            ctes.append(_values_cents_cte(f"b{s}", PQ_BOOKS[s]))
        ctes.append(_lloyd_assign_cte(f"s{s}_af", f"e{s}", f"b{s}", _PQ_SUB_DIM))
    return ctes


def _coarse_ctes(spill: int = 1, trained: bool = False) -> list[str]:
    """``e``, the coarse centroids ``cb`` (the shipped literals, or
    unrolled Lloyd training when ``trained``) and each vector's
    ``spill`` nearest cells ``af``."""
    if trained:
        train, last = _lloyd_ctes("e", "", _EMB_DIM, _KMEANS_K, _KMEANS_ITERS)
        cents = train + [f"cb AS (SELECT * FROM {last})"]
    else:
        cents = [_values_cents_cte("cb", KMEANS_CENTROIDS)]
    return [_E_CTE, *cents, _lloyd_assign_cte("af", "e", "cb", _EMB_DIM, spill)]


def _probe_ctes(qid: int, nprobe: int | None, label: int | None) -> list[str]:
    """Query ``qid``'s vector ``q_{qid}``; with ``nprobe``, also its
    nprobe nearest cells ``probe_{qid}`` and the distinct ids stored
    there ``surv_{qid}`` (only those with ``label`` when given)."""
    ctes = [f"q_{qid} AS (SELECT v AS qv FROM e WHERE vec_id = {qid})"]
    if nprobe is None:
        return ctes
    flt = "" if label is None else f" JOIN e USING (vec_id) WHERE e.label = {label}"
    return ctes + [
        f"""probe_{qid} AS (SELECT cell FROM cb, q_{qid} q
            ORDER BY list_cosine_similarity(cv, q.qv) DESC, cell ASC LIMIT {nprobe})""",
        f"""surv_{qid} AS (SELECT DISTINCT vec_id
            FROM af JOIN probe_{qid} USING (cell){flt})""",
    ]


def _ann_ctes(
    qid: int, k: int, label: int | None = None, nprobe: int | None = _NPROBE
) -> list[str]:
    """The oracle twin of one single-query serving probe, as CTEs
    suffixed ``_{qid}``: :func:`_probe_ctes`, the ADC distance tables
    ``dt``, the _RERANK-id ADC shortlist ``short`` (of the survivors, or
    of the whole corpus without ``nprobe``) and ``top``, the
    exact-cosine top-``k`` (vec_id, [label,] cosine_sim, rank)."""
    sfx = f"_{qid}"
    ctes = _probe_ctes(qid, nprobe, label)
    joins = " ".join(f"JOIN s{s}_af a{s} USING (vec_id)" for s in range(1, _PQ_SUBS))
    if nprobe is not None:
        joins += f" JOIN surv{sfx} USING (vec_id)"
    for s in range(_PQ_SUBS):
        lo = s * _PQ_SUB_DIM
        ctes.append(
            f"""dt{sfx}_{s} AS (SELECT c.cell,
                list_sum(list_transform(range(1, {_PQ_SUB_DIM}+1),
                    i -> (q.qv[{lo} + i] - c.cv[i]) * (q.qv[{lo} + i] - c.cv[i]))) AS d
                FROM b{s} c, q{sfx} q)"""
        )
        joins += f" JOIN dt{sfx}_{s} ON a{s}.cell = dt{sfx}_{s}.cell"
    total = " + ".join(f"dt{sfx}_{s}.d" for s in range(_PQ_SUBS))
    lbl = "" if label is None else " CAST(e.label AS INT) AS label,"
    return ctes + [
        f"""short{sfx} AS MATERIALIZED (
            SELECT a0.vec_id, round({total}, 6) AS adc_dist
            FROM s0_af a0 {joins}
            ORDER BY adc_dist ASC, vec_id ASC LIMIT {_RERANK})""",
        f"""top{sfx} AS (SELECT * FROM (
            SELECT e.vec_id,{lbl}
                   round(list_cosine_similarity(e.v, q.qv), 6) AS cosine_sim,
                   CAST(row_number() OVER (
                     ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC,
                              e.vec_id ASC) AS BIGINT) AS rank
            FROM e JOIN short{sfx} USING (vec_id), q{sfx} q) WHERE rank <= {k})""",
    ]


def _ann_oracle(ctes: list[str], select: str) -> str:
    return "WITH " + ",\n".join(ctes) + "\n" + select


def _kmeans_ivf_oracle(trained: bool = False) -> str:
    """Full-precision IVF probe: exact cosine top-10 over the query's
    _NPROBE nearest cells."""
    return _ann_oracle(
        _coarse_ctes(trained=trained) + _probe_ctes(0, _NPROBE, None),
        """SELECT af.vec_id, round(list_cosine_similarity(af.v, q.qv), 6) AS cosine_sim
    FROM af JOIN surv_0 USING (vec_id), q_0 q
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10""",
    )


@register("sim_topk_kmeans_ivf", _kmeans_ivf_oracle(trained=True))
def sim_topk_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells,
        lloyd_kmeans_centroids,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    vecs = emb.select("vec_id", as_double.alias("v"))
    centroids = lloyd_kmeans_centroids(vecs, _KMEANS_K, _KMEANS_ITERS)
    cells = vecs.withColumn("cell", assign_cells(F.col("v"), centroids))

    # rank cells by centroid-to-query cosine, probe the top NPROBE.
    # The centroid frame is model metadata (k tiny rows), not a data
    # collect; everything over the corpus stays a cell-pruned broadcast join.
    centroids_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cell int, cv array<double>"
    )
    query = cells.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    probe_cells = (
        centroids_df.crossJoin(F.broadcast(query))
        .select("cell", cosine(F.col("cv"), F.col("qv")).alias("csim"))
        .orderBy(F.desc("csim"), F.asc("cell"))
        .limit(_NPROBE)
        .select("cell")
    )
    probed = cells.join(F.broadcast(probe_cells), "cell").crossJoin(
        F.broadcast(query)
    ).select(
        "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine_sim")
    )
    return probed.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(10)


@register(
    "sim_topk_ivf",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cells AS (SELECT vec_id, v, {_CELL_SQL} AS cell FROM e),
    q AS (SELECT v AS qv, cell AS qcell FROM cells WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(v, qv), 6) AS cosine_sim
    FROM cells, q
    WHERE cell = qcell
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    cells = emb.select("vec_id", as_double.alias("v")).withColumn("cell", ivf_cell(F.col("v")))
    query = cells.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    # probe only the query's cell — broadcast the 1-row query, prune by cell
    probed = cells.join(
        F.broadcast(query), cells["cell"] == query["qcell"], "inner"
    ).select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine_sim"))
    return probed.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(10)


# -- X3g: product quantization (PQ) — compressed codes + ADC top-k -----------
# PQ is how 100 TB embedding indexes actually fit in memory: independent
# deterministic-Lloyd codebooks over subvectors compress each 64-dim
# float vector to _PQ_SUBS small codes; queries score against
# per-subspace exact distance tables (ADC). Training reuses the same
# oracle-unrollable Lloyd's as sim_topk_kmeans_ivf, so BOTH the encoding
# and the ADC top-k are fully hash-checked against DuckDB — training
# included.
#
# Config is chosen off the recorded curves (ANN_RECALL_r09/r11 +
# ANN_PQ_SWEEP_r12): the binding
# constraint has always been the sub-quantizer COUNT (r8's 4×16 read
# 0.135 flat in k; r9-r11's 16×4 capped probe-ADC at 0.415). The r12
# shipped 32×2 split at k=64 is 192 bits/vector (10.7x vs float32),
# reading 0.64 probe-ADC / 0.915 composed with the _RERANK exact
# re-rank at the realistic k=64-cell index — the deployment shape
# registered below as sim_pq_topk_rerank_fixed. A fixed PCA-balanced
# rotation was swept and measured a NEGATIVE on this corpus (isotropic
# by construction). (Constants imported from queries/ann_config.py.)


def _pq_encode_oracle(trained: bool = False) -> str:
    joins = " ".join(f"JOIN s{s}_af a{s} USING (vec_id)" for s in range(1, _PQ_SUBS))
    cols = ", ".join(f"a{s}.cell AS c{s}" for s in range(_PQ_SUBS))
    return _ann_oracle(
        [_E_CTE] + _pq_assign_ctes(trained),
        f"SELECT a0.vec_id, {cols} FROM s0_af a0 {joins}",
    )


def _pq_topk_oracle(trained: bool = False) -> str:
    return _ann_oracle(
        [_E_CTE] + _pq_assign_ctes(trained) + _ann_ctes(0, 10, nprobe=None),
        "SELECT vec_id, adc_dist FROM short_0 ORDER BY adc_dist, vec_id LIMIT 10",
    )


def _pq_books(spark: SparkSession, sf_dir: str):
    from streaming_data_pipeline_capstone_spark.operators.similarity import pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    vecs = emb.select("vec_id", as_double.alias("v"))
    return vecs, pq_train(vecs, _PQ_SUBS, _PQ_SUB_DIM, _PQ_K, _PQ_ITERS)


@register("emb_pq_encode", _pq_encode_oracle(trained=True))
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.similarity import pq_encode_cols

    vecs, books = _pq_books(spark, sf_dir)
    # encoding is pure per-row expressions over literal codebooks — zero
    # shuffles, fully parallel, exactly what runs over the whole corpus
    # when building the compressed index.
    return vecs.select("vec_id", *pq_encode_cols(F.col("v"), books, _PQ_SUB_DIM))


@register("sim_pq_topk", _pq_topk_oracle(trained=True))
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        pq_adc_score,
        pq_encode_cols,
    )

    vecs, books = _pq_books(spark, sf_dir)
    query = [
        float(x)
        for x in vecs.filter(F.col("vec_id") == 0).select("v").head()[0]
    ]
    codes = [F.col(f"c{s}") for s in range(_PQ_SUBS)]
    encoded = vecs.select("vec_id", *pq_encode_cols(F.col("v"), books, _PQ_SUB_DIM))
    scored = encoded.select(
        "vec_id",
        F.round(pq_adc_score(codes, query, books, _PQ_SUB_DIM), 6).alias("adc_dist"),
    )
    return scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(10)


# -- deployment-shape variants: FIXED (shipped) codebooks ---------------------
# The per-invocation-training queries above prove the training pipeline is
# oracle-correct; these prove the shape a 100 TB pipeline actually runs —
# codebooks/centroids are a model artifact trained once on a sample
# (tools/train_codebooks.py over the sf0.01 embeddings), shipped as
# constants (queries/codebooks.py), and applied everywhere. Encoding is
# pure per-row expressions over literal codebooks (zero shuffles, zero
# training jobs); ADC top-k is one scan + TakeOrderedAndProject; IVF probe
# is a cell-pruned scan. The oracles inline the SAME literals via VALUES
# CTEs, so the value-hash check covers the shipped artifact too (training
# is 6-dp-rounded, so every literal's repr round-trips exactly into both
# engines).


def _double_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


@register("emb_pq_encode_fixed", _pq_encode_oracle())
def emb_pq_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode against the shipped codebook: zero training jobs, zero
    shuffles — the exact plan that compresses a 100 TB embedding corpus."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import pq_encode_cols

    vecs = _double_vecs(spark, sf_dir)
    return vecs.select("vec_id", *pq_encode_cols(F.col("v"), PQ_BOOKS, _PQ_SUB_DIM))


@register("sim_pq_topk_fixed", _pq_topk_oracle())
def sim_pq_topk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k against the shipped codebook: one-row query fetch, one
    corpus scan, TakeOrderedAndProject — no training, no shuffles."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        pq_adc_score,
        pq_encode_cols,
    )

    vecs = _double_vecs(spark, sf_dir)
    query = [
        float(x) for x in vecs.filter(F.col("vec_id") == 0).select("v").head()[0]
    ]
    codes = [F.col(f"c{s}") for s in range(_PQ_SUBS)]
    encoded = vecs.select("vec_id", *pq_encode_cols(F.col("v"), PQ_BOOKS, _PQ_SUB_DIM))
    scored = encoded.select(
        "vec_id",
        F.round(pq_adc_score(codes, query, PQ_BOOKS, _PQ_SUB_DIM), 6).alias("adc_dist"),
    )
    return scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(10)


@register("sim_topk_kmeans_ivf_fixed", _kmeans_ivf_oracle())
def sim_topk_kmeans_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against shipped centroids: assignment + cell-pruned scan,
    no Lloyd jobs — the probe-side plan of a trained-once deployment."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import assign_cells

    vecs = _double_vecs(spark, sf_dir)
    cells = vecs.withColumn("cell", assign_cells(F.col("v"), KMEANS_CENTROIDS))
    centroids_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(KMEANS_CENTROIDS)], "cell int, cv array<double>"
    )
    query = cells.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    probe_cells = (
        centroids_df.crossJoin(F.broadcast(query))
        .select("cell", cosine(F.col("cv"), F.col("qv")).alias("csim"))
        .orderBy(F.desc("csim"), F.asc("cell"))
        .limit(_NPROBE)
        .select("cell")
    )
    probed = (
        cells.join(F.broadcast(probe_cells), "cell")
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine_sim")
        )
    )
    return probed.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(10)


def _ivfpq_fixed_oracle() -> str:
    """IVF coarse probe + PQ ADC refine, both against shipped artifacts."""
    return _ann_oracle(
        _coarse_ctes() + _pq_assign_ctes() + _ann_ctes(0, 10),
        "SELECT vec_id, adc_dist FROM short_0 ORDER BY adc_dist, vec_id LIMIT 10",
    )


@register("sim_topk_ivfpq_fixed", _ivfpq_fixed_oracle())
def sim_topk_ivfpq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe — the FAISS-IVFPQ deployment shape over shipped
    artifacts: coarse k-means centroids prune the corpus to ``_NPROBE``
    cells, then PQ codes + an ADC table rank the survivors. The scan
    touches ~nprobe/k of the corpus and scores it from 4 small codes, so
    per-query cost at 100 TB is (selectivity x corpus) integer lookups —
    no full-precision vectors survive past the cell filter. This variant
    codes raw vectors (one shared codebook across cells); classic residual
    encoding (code v - centroid[cell]) needs per-cell ADC tables and is a
    constant-factor refinement, not a different plan shape.

    Parity note: composes the shipped-artifact IVF probe and PQ scorer
    into the index shape a 100 TB ANN service runs; the reference's ANN
    story stops at brute-force (predict_path.py's feature chain), so this
    row extends SURVEY §2.11 X3, no reference twin.
    """
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells,
        pq_adc_score,
        pq_encode_cols,
    )

    vecs = _double_vecs(spark, sf_dir)
    cells = vecs.withColumn("cell", assign_cells(F.col("v"), KMEANS_CENTROIDS))
    query = [
        float(x) for x in vecs.filter(F.col("vec_id") == 0).select("v").head()[0]
    ]
    centroids_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(KMEANS_CENTROIDS)], "cell int, cv array<double>"
    )
    qcol = lit_double_array(query)
    probe_cells = (
        centroids_df.select("cell", cosine(F.col("cv"), qcol).alias("csim"))
        .orderBy(F.desc("csim"), F.asc("cell"))
        .limit(_NPROBE)
        .select("cell")
    )
    codes = [F.col(f"c{s}") for s in range(_PQ_SUBS)]
    survivors = cells.join(F.broadcast(probe_cells), "cell").select(
        "vec_id", *pq_encode_cols(F.col("v"), PQ_BOOKS, _PQ_SUB_DIM)
    )
    scored = survivors.select(
        "vec_id",
        F.round(pq_adc_score(codes, query, PQ_BOOKS, _PQ_SUB_DIM), 6).alias("adc_dist"),
    )
    return scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(10)


def _semantic_cells_oracle() -> str:
    return _ann_oracle(
        _coarse_ctes(),
        """SELECT * FROM (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ) WHERE cosine_sim >= 0.45""",
    )


@register("dedup_semantic_cells", _semantic_cells_oracle())
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped near-dedup (Abbas et al. 2023): candidate pairs are
    generated only WITHIN a coarse k-means cell (shipped centroids), never
    across the corpus — the centroid bucket plays the role the band bucket
    plays in MinHash-LSH. At 100 TB the verify work is sum over cells of
    |cell|^2 instead of n^2: with k sized so cells hold ~1/k of the corpus
    the pruning factor is ~k. Skewed cells are SALTED (round 7): the
    per-cell verify runs through cell_blocked_pairs, which splits any cell
    above target_rows into block-pair tasks, so a hot cell holding half
    the corpus becomes bounded parallel GEMMs instead of one straggler —
    the skew fixture in tests/test_ann_deployment.py pins both the bound
    and pair-set identity. One exchange on task (≡ cell while no cell
    exceeds the target); the per-task GEMM is the same in-bucket verify
    the banded-LSH path runs.

    Parity note: the brute-force twin (`dedup_embedding_cosine`,
    queries/llm_ops.py) is the mandated baseline; this row is its scale
    path, extending SURVEY §2.11 X2 (no reference twin — the reference has
    no embedding operators).
    """
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells,
        cell_blocked_pairs,
    )

    vecs = _double_vecs(spark, sf_dir)
    cells = vecs.select(
        F.col("vec_id").alias("vid"),
        "v",
        assign_cells(F.col("v"), KMEANS_CENTROIDS).alias("cell"),
    )
    return cell_blocked_pairs(cells, threshold=0.45, target_rows=4096)


# -- partition-pruned ANN serving ---------------------------------------------
# The *_fixed probes prune COMPUTE (survivors come from a broadcast cell
# join) but still scan the whole corpus. These twins run the same probes
# against the cell-partitioned serving layout (operators/ann_layout.py):
# the probe set is computed driver-side from the shipped centroids (model
# constants, no data job), so the cell predicate is a LITERAL and the scan
# lists + reads only nprobe of k partition directories — per-query I/O is
# nprobe/k of storage, the number that matters at 100 TB. Results are
# row-identical to the unpruned twins (same oracle; pinned by
# tests/test_ann_deployment.py).


def _serving_model(sf_dir: str):
    """The corpus's CURRENT serving model — the shipped codebooks for
    the gate corpora (their oracles inline those literals), or the
    repointed rule-k model after tools/ann_retrain_exec.py has executed
    the retrain recipe for a grown corpus."""
    from streaming_data_pipeline_capstone_spark.queries.serving_models import (
        serving_model,
    )

    return serving_model(sf_dir)


def _serving_layout(spark: SparkSession, sf_dir: str, m=None) -> str:
    """The cell-partitioned layout of serving model ``m``, by default
    the corpus's current one."""
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        ensure_cell_layout,
    )

    m = m or _serving_model(sf_dir)
    return ensure_cell_layout(
        spark,
        sf_dir,
        m.centroids,
        m.pq_books,
        m.pq_sub_dim,
        spill=m.spill,
        model_tag=m.tag,
    )


def _spill_model(sf_dir: str):
    """The spill gate's model. The shipped codebooks are served from a
    _SPILL-assigned layout probed at _SPILL_NPROBE cells, which keeps the
    certified nprobe/k = 0.25 ratio at the fixture's k=8; a repointed
    model's own spill and nprobe already encode that ratio at its k."""
    m = _serving_model(sf_dir)
    return m if m.tag is not None else replace(m, nprobe=_SPILL_NPROBE, spill=_SPILL)


def _serving_layout_spill(spark: SparkSession, sf_dir: str) -> str:
    return _serving_layout(spark, sf_dir, _spill_model(sf_dir))


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = read_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


def _pruned_probe(
    spark: SparkSession, sf_dir: str, layout: str, m, label: int | None = None
) -> tuple[list[float], DataFrame]:
    """The query vector and the probe's scan of ``layout``: the literal
    ``cell IN (probes)`` prunes it to the m.nprobe partition directories
    nearest the query, and ``label`` (schema v2 keeps it in the layout
    rows) becomes a parquet predicate under that prune."""
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        probe_cells_py,
    )

    query = _query_vec(spark, sf_dir)
    probes = probe_cells_py(query, m.centroids, m.nprobe)
    scan = read_cell_layout(spark, layout, len(m.pq_books)).filter(
        F.col("cell").isin(probes)
    )
    if label is not None:
        scan = scan.filter(F.col("label") == label)
    return query, scan


def _adc_dist(m, query: list[float]) -> Column:
    """ADC distance of the code columns to ``query`` — the scan reads no
    raw vectors."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        pq_adc_score,
    )

    codes = [F.col(f"c{s}") for s in range(len(m.pq_books))]
    return F.round(pq_adc_score(codes, query, m.pq_books, m.pq_sub_dim), 6).alias(
        "adc_dist"
    )


def _cosine_sim(query: list[float]) -> Column:
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return F.round(cosine(as_double, lit_double_array(query)), 6).alias("cosine_sim")


def _distinct_top(scored: DataFrame, score: Column, n: int, spill: int) -> DataFrame:
    """Top ``n`` distinct vec_ids of ``scored`` in ``score`` order, ties
    by vec_id. A spilled layout stores a vector in ``spill`` cells, and
    copies probed together score identically, so they sit next to each
    other in that order: n·spill ordered rows hold the top n distinct
    ids, and the dedup runs on that tiny frame, never on the scan."""
    top = scored.orderBy(score, F.asc("vec_id"))
    if spill > 1:
        top = top.limit(n * spill).dropDuplicates(["vec_id"]).orderBy(score, F.asc("vec_id"))
    return top.limit(n)


@register("sim_topk_ivf_pruned", _kmeans_ivf_oracle())
def sim_topk_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-precision IVF probe over the cell-partitioned layout: literal
    ``cell IN (probes)`` -> partition-pruned scan of nprobe/k of storage,
    then exact cosine + TakeOrderedAndProject over the survivors only."""
    m = _serving_model(sf_dir)
    query, scan = _pruned_probe(spark, sf_dir, _serving_layout(spark, sf_dir), m)
    scored = scan.select("vec_id", _cosine_sim(query))
    return _distinct_top(scored, F.desc("cosine_sim"), 10, m.spill)


@register("sim_topk_ivfpq_pruned", _ivfpq_fixed_oracle())
def sim_topk_ivfpq_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe over the cell-partitioned layout — the full FAISS
    serving shape: partition-pruned scan (nprobe/k of storage), reading
    ONLY the integer code columns (column pruning drops the raw vectors),
    ADC against the shipped codebook, TakeOrderedAndProject. Per-query
    cost at 100 TB: list nprobe directories, read (nprobe/k) x n rows of
    4 small ints each, k x 256 table lookups per row."""
    m = _serving_model(sf_dir)
    query, scan = _pruned_probe(spark, sf_dir, _serving_layout(spark, sf_dir), m)
    scored = scan.select("vec_id", _adc_dist(m, query))
    return _distinct_top(scored, F.asc("adc_dist"), 10, m.spill)


# -- exact re-rank stage ------------------------------------------------------
# ADC distances rank by quantized geometry; the production probe takes the
# ADC TOP-_RERANK shortlist and re-scores only those raw vectors exactly —
# recall then depends on the shortlist CONTAINING the true neighbors, a far
# weaker demand than the shortlist ORDERING them. The recorded curve
# (git history at 78bf83b) reads 0.525 ADC-only -> 0.925 with rerank=100 at
# the shipped codebook, and the composed pruned probe reads 0.805. At
# 100 TB the re-rank stage is _RERANK random fetches of raw vectors by id
# — constant per query, independent of corpus size.


def _pq_rerank_fixed_oracle() -> str:
    return _ann_oracle(
        [_E_CTE] + _pq_assign_ctes() + _ann_ctes(0, 10, nprobe=None),
        "SELECT vec_id, cosine_sim FROM top_0",
    )


def _ivfpq_rerank_oracle() -> str:
    return _ann_oracle(
        _coarse_ctes() + _pq_assign_ctes() + _ann_ctes(0, 10),
        "SELECT vec_id, cosine_sim FROM top_0",
    )


@register("sim_pq_topk_rerank_fixed", _pq_rerank_fixed_oracle())
def sim_pq_topk_rerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist + exact re-rank against the shipped codebook — the
    deployment probe whose recall the curve certifies (0.925 at the
    shipped config vs 0.525 ADC-only). Plan: one codes-only scan +
    TakeOrderedAndProject(_RERANK), then the raw-vector scan joins the
    BROADCAST 100-row shortlist (at serving: _RERANK keyed fetches) and a
    second TakeOrderedAndProject emits the exact-cosine top-10."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        pq_adc_score,
        pq_encode_cols,
    )

    vecs = _double_vecs(spark, sf_dir)
    query = [
        float(x) for x in vecs.filter(F.col("vec_id") == 0).select("v").head()[0]
    ]
    codes = [F.col(f"c{s}") for s in range(_PQ_SUBS)]
    encoded = vecs.select("vec_id", *pq_encode_cols(F.col("v"), PQ_BOOKS, _PQ_SUB_DIM))
    short = (
        encoded.select(
            "vec_id",
            F.round(pq_adc_score(codes, query, PQ_BOOKS, _PQ_SUB_DIM), 6).alias(
                "adc_dist"
            ),
        )
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(_RERANK)
    )
    qcol = lit_double_array(query)
    rer = vecs.join(F.broadcast(short.select("vec_id")), "vec_id")
    return (
        rer.select(
            "vec_id", F.round(cosine(F.col("v"), qcol), 6).alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _pruned_rerank_topk_at(
    spark: SparkSession,
    sf_dir: str,
    layout: str,
    limit: int,
    m=None,
    label: int | None = None,
) -> DataFrame:
    """The single-query serving probe over ``layout``: pruned codes-only
    scan -> ADC shortlist of _RERANK distinct ids -> raw vectors fetched
    for the shortlist only (a second pruned scan joined against the
    broadcast shortlist; at serving, _RERANK keyed fetches) -> exact-cosine
    top-``limit`` (vec_id, [label,] cosine_sim). ``m`` replaces the
    corpus's serving model (the spill gate's), ``label`` filters both
    scans. The one-shot, epoch-appended and stream-ingested layouts all
    serve through it: they differ only in how their rows arrived."""
    m = m or _serving_model(sf_dir)
    query, scan = _pruned_probe(spark, sf_dir, layout, m, label)
    scored = scan.select("vec_id", _adc_dist(m, query))
    short = _distinct_top(scored, F.asc("adc_dist"), _RERANK, m.spill)
    cols = ["vec_id"] + ([] if label is None else ["label"])
    raw = scan.select(*cols, "embedding").join(F.broadcast(short.select("vec_id")), "vec_id")
    if m.spill > 1:
        # dedup after the broadcast join: it shuffles at most _RERANK rows
        raw = raw.dropDuplicates(["vec_id"])
    return _distinct_top(raw.select(*cols, _cosine_sim(query)), F.desc("cosine_sim"), limit, 1)


@register("sim_topk_ivfpq_rerank_pruned", _ivfpq_rerank_oracle())
def sim_topk_ivfpq_rerank_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE serving probe at 100 TB: partition-pruned codes-only
    scan of nprobe/k of storage -> ADC shortlist of _RERANK ids -> raw
    vectors fetched for the shortlist only -> exact cosine top-10.
    Recorded composed recall 0.805 (ivf_pq_rerank at the shipped config;
    git history at 78bf83b)."""
    return _pruned_rerank_topk_at(spark, sf_dir, _serving_layout(spark, sf_dir), 10)


# -- spilled-assignment serving probe -----------------------------------------
# The realistic-cell-count recall measurement (git history at 78bf83b; k=64
# cells over the rotate-dup sf1 corpus) showed single-assignment IVF's
# coarse quantizer IS the recall ceiling on an isotropic corpus: ivf_exact
# 0.75 at nprobe/k = 0.25, below the 0.8 serving target no matter the PQ /
# rerank budget downstream. The shipped fix is ScaNN-style spilling
# (multi-assignment): the layout stores each vector in its _SPILL nearest
# cells, lifting the ceiling to 0.915 and the composed IVF-PQ+rerank probe
# to 0.915 (rerank=100, shipped codebook) at the SAME probed fraction of
# stored rows, for 2 x the per-vector code bytes. This gate query runs
# that exact plan at the fixture's KMEANS_K=8 with _SPILL_NPROBE=2 — the
# certified nprobe/k = 0.25 ratio — against a DuckDB oracle with the
# identical spilled assignment, DISTINCT-survivor dedup, shortlist, and
# re-rank.


def _ivfpq_rerank_spill_oracle() -> str:
    return _ann_oracle(
        _coarse_ctes(_SPILL) + _pq_assign_ctes() + _ann_ctes(0, 10, nprobe=_SPILL_NPROBE),
        "SELECT vec_id, cosine_sim FROM top_0",
    )


@register("sim_topk_ivfpq_rerank_spill", _ivfpq_rerank_spill_oracle())
def sim_topk_ivfpq_rerank_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spilled serving probe at the certified nprobe/k = 0.25 ratio:
    the rerank probe over the SPILLED layout (each vector stored in its
    _SPILL=2 nearest cells; probed fraction of stored rows unchanged).
    Composed recall at the realistic k=64 coarse index: 0.85
    (ivf_pq_rerank, spill=2, nprobe=16, rerank=100 vs 0.71 unspilled;
    git history at 78bf83b)."""
    return _pruned_rerank_topk_at(
        spark, sf_dir, _serving_layout_spill(spark, sf_dir), 10, _spill_model(sf_dir)
    )


# -- hybrid retrieval with the ANN probe as the dense arm ---------------------
# retrieval_hybrid_rrf's dense candidate generator is a full corpus scan
# (exact, the recall ceiling); its docstring notes the IVF-PQ probe is a
# drop-in. This query IS that drop-in — the production hybrid shape at
# 100 TB: dense candidates from the partition-pruned codes scan -> ADC
# shortlist -> exact re-rank (reads nprobe/k of stored rows), fused with
# the pre-filtered BM25 arm by the same integer reciprocal-rank terms.
# Recall tradeoff is the certified one (composed recall 0.915; git
# history at 78bf83b) and only RANKS cross the fusion boundary, so the
# fused frame stays <=2*_CAND rows regardless of corpus size.


def _rrf_ann_oracle() -> str:
    from streaming_data_pipeline_capstone_spark.queries.retrieval import _CAND, _rrf_oracle

    ctes = _coarse_ctes() + _pq_assign_ctes() + _ann_ctes(0, _CAND)
    ctes.append("dense AS (SELECT vec_id AS id, rank AS r_dense FROM top_0)")
    return _rrf_oracle(",\n".join(ctes))


@register("retrieval_hybrid_rrf_ann", _rrf_ann_oracle())
def retrieval_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 by RRF of the partition-pruned IVF-PQ+rerank dense top-50
    and BM25 top-50 — retrieval_hybrid_rrf with the scale-path dense arm."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import _CAND, _rrf_top

    dense_cand = _pruned_rerank_topk_at(
        spark, sf_dir, _serving_layout(spark, sf_dir), _CAND
    ).withColumnRenamed("cosine_sim", "sim")
    return _rrf_top(spark, sf_dir, dense_cand)


# -- batched multi-query ANN serving ------------------------------------------
# Single-query probes are the demo shape; a serving tier answers query
# BATCHES. The plan batches WITHOUT multiplying passes: ONE pruned codes
# scan over the UNION of all queries' probe cells; a broadcast
# (query_id, cell) pair table fans each code row out to exactly the
# queries that probe its cell (never to the whole batch); per-query ADC
# joins a broadcast per-query DISTANCE-TABLE frame (query_id -> the
# subs x pq_k lookup arrays pq_adc_tables builds) and sums
# dtabs[s][code_s] — the SAME numbers the single-query literal tables
# compile to, but expression size O(subs) regardless of batch size, so
# the batch axis is bounded only by the broadcast (Q * subs * pq_k
# doubles ≈ 16 KiB/query), not by codegen (the previous
# per-query literal-CASE chain grew the projection O(Q·subs·pq_k) and
# would not compile at serving batch sizes). The shortlist and final
# top-k are rank windows PARTITIONED BY query_id — more queries add
# partitions, not passes. The one data-sized exchange carries the probed
# fraction fanned by per-cell query multiplicity (≤ batch size,
# typically ~nprobe/k · Q). The qid=0 slice is pinned identical to
# sim_topk_ivfpq_rerank_pruned.

_MULTI_QIDS = [0, 1, 2]


def _query_vecs_multi(
    spark: SparkSession, sf_dir: str, qids: list[int]
) -> dict[int, list[float]]:
    rows = (
        _double_vecs(spark, sf_dir).filter(F.col("vec_id").isin(qids)).collect()
    )
    return {int(r.vec_id): [float(x) for x in r.v] for r in rows}


def _ivfpq_multi_oracle(labels: dict[int, int] | None = None) -> str:
    """Per query of the batch, the single-query probe's CTEs (label
    filtered by ``labels[qid]`` when given), unioned."""
    ctes = _coarse_ctes() + _pq_assign_ctes()
    for qid in _MULTI_QIDS:
        ctes += _ann_ctes(qid, 10, labels[qid] if labels else None)
    lbl = " label," if labels else ""
    return _ann_oracle(
        ctes,
        "\nUNION ALL ".join(
            f"SELECT {qid} AS query_id, vec_id,{lbl} cosine_sim, rank FROM top_{qid}"
            for qid in _MULTI_QIDS
        ),
    )


def multi_topk_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    qids: list[int],
    k: int = 10,
    labels: dict[int, int] | None = None,
    layout: str | None = None,
) -> DataFrame:
    """The batched serving pass for an arbitrary query-id batch: one
    pruned codes scan over the union of probe cells, broadcast
    (query_id, cell) fan-out, broadcast per-query distance-table join for
    the ADC, rank windows per query_id. Per-query state crossing the
    cluster is ONE broadcast of Q rows (each subs x pq_k doubles + the
    raw query vector); plan/expression size is independent of Q.

    ``labels`` (the filter axis composed onto the batch axis) maps
    query_id -> required label for that query's
    results; omitted qids are unfiltered. Real serving batches carry
    per-query predicates, so the predicate rides in TWO layers: the
    UNION of requested labels is a literal IN-filter INSIDE the pruned
    codes scan (a parquet row-group filter under the partition prune —
    only possible because metadata lives in the layout, schema v2), and
    the exact per-query match is one more predicate on the broadcast
    fan-out before the shortlist window. Output gains the label column
    when filtering (query_id, vec_id, label, cosine_sim, rank)."""
    from pyspark.sql import Window

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        probe_cells_batch,
    )
    from streaming_data_pipeline_capstone_spark.queries.retrieval import _rank_per_query
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        pq_adc_score_tables_col,
        pq_adc_tables,
    )

    m = _serving_model(sf_dir)
    if layout is None:
        layout = _serving_layout(spark, sf_dir)
    qvecs = _query_vecs_multi(spark, sf_dir, qids)
    # vectorized batch ranking: bit-identical to per-query
    # probe_cells_py (pinned in tests), numpy-speed at serving Q x large k
    probes = dict(
        zip(
            qids,
            probe_cells_batch(
                [qvecs[qid] for qid in qids], m.centroids, m.nprobe
            ),
        )
    )
    union_cells = sorted({c for cs in probes.values() for c in cs})
    pairs = spark.createDataFrame(
        [(qid, c) for qid in qids for c in probes[qid]],
        "query_id int, cell int",
    )
    qmeta = spark.createDataFrame(
        [
            (
                qid,
                pq_adc_tables(qvecs[qid], m.pq_books, m.pq_sub_dim),
                qvecs[qid],
                labels.get(qid) if labels else None,
            )
            for qid in qids
        ],
        "query_id int, dtabs array<array<double>>, qv array<double>, qlabel int",
    )
    filtering = bool(labels)
    union_labels = sorted({v for v in labels.values() if v is not None}) if labels else []
    codes = [F.col(f"c{s}") for s in range(len(m.pq_books))]
    scan = read_cell_layout(spark, layout, len(m.pq_books)).filter(F.col("cell").isin(union_cells))
    # gate on every query actually carrying a label (two
    # queries sharing a label shrink the de-duplicated union set, and a
    # set/dict LENGTH comparison would silently disable the row-group
    # prefilter even though the disjunction is still exact)
    if filtering and all(labels.get(q) is not None for q in qids):
        # every query is filtered: the union-of-labels disjunction can
        # prefilter the SCAN itself (row-group stats + dictionary pages
        # under the partition prune) before the broadcast fan-out
        scan = scan.filter(F.col("label").isin(union_labels))
    cand = (
        scan
        .join(F.broadcast(pairs), "cell")
        .join(
            F.broadcast(qmeta.select("query_id", "dtabs", "qlabel")), "query_id"
        )
    )
    if filtering:
        cand = cand.filter(
            F.col("qlabel").isNull() | (F.col("label") == F.col("qlabel"))
        )
    cand = cand.select(
        "query_id",
        "vec_id",
        F.round(pq_adc_score_tables_col(codes, F.col("dtabs")), 6).alias(
            "adc_dist"
        ),
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    short = cand.withColumn("_r", F.row_number().over(w_short)).filter(
        F.col("_r") <= _RERANK * m.spill
    )
    if m.spill > 1:
        # spilled layout: copies of a vector whose cells are both probed
        # carry identical (adc_dist, vec_id) and are adjacent under
        # w_short — dedup the Q x rerank x spill frame, re-rank, keep the
        # top _RERANK distinct ids per query
        short = (
            short.dropDuplicates(["query_id", "vec_id"])
            .withColumn("_r2", F.row_number().over(w_short))
            .filter(F.col("_r2") <= _RERANK)
        )
    short = short.select("query_id", "vec_id")
    raw_cols = ["vec_id"] + (["label"] if filtering else [])
    raw = (
        read_cell_layout(spark, layout, len(m.pq_books))
        .filter(F.col("cell").isin(union_cells))
        .select(
            *raw_cols,
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    if m.spill > 1:
        # only a spilled layout stores a vector in several cells; a
        # spill-1 layout is vec_id-unique by construction, so the dedup
        # exchange would shuffle the raw fetch for nothing
        raw = raw.dropDuplicates(["vec_id"])
    rer = (
        raw.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qmeta.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            *raw_cols,
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine_sim"),
        )
    )
    return _rank_per_query(rer, "cosine_sim", "vec_id", k).select(
        "query_id", *raw_cols, "cosine_sim", "rank"
    )


@register("sim_topk_ivfpq_multi", _ivfpq_multi_oracle())
def sim_topk_ivfpq_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving: exact-cosine top-10 per query for the 3-query
    batch through ONE pruned IVF-PQ + rerank pass — (query_id, vec_id,
    cosine_sim, rank). The gate instance of :func:`multi_topk_ivfpq`."""
    return multi_topk_ivfpq(spark, sf_dir, _MULTI_QIDS)


# -- predicate-filtered ANN serving --------------------------------------------
# The other axis a vector store must serve: "nearest neighbors of q AMONG
# rows satisfying a metadata predicate" (per-tenant search, lang-scoped
# retrieval, license-filtered training data). The scale-correct plan
# keeps the predicate INSIDE the pruned codes scan: metadata columns ride
# in the cell-partitioned layout (ann_layout schema v2), so the filter is
# a parquet row-group predicate UNDER the partition prune — never a join
# against a corpus-sized id->metadata map, and no post-hoc filtering of
# an unfiltered top-k (which silently returns < k). Selectivity rule: a
# predicate keeping fraction p of rows thins every probed cell by ~p, so
# a serving tier sizes nprobe/rerank for k_target/p; at this gate's
# p ≈ 0.1 the _RERANK=100 shortlist still carries ~10x the final k.

_FILTER_LABEL = 3


def _ivfpq_filtered_oracle() -> str:
    return _ann_oracle(
        _coarse_ctes() + _pq_assign_ctes() + _ann_ctes(0, 10, _FILTER_LABEL),
        "SELECT vec_id, label, cosine_sim FROM top_0",
    )


@register("sim_topk_ivfpq_filtered", _ivfpq_filtered_oracle())
def sim_topk_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN probe: exact-cosine top-10 among label={lbl} vectors
    only, through the partition-pruned IVF-PQ + rerank plan with the
    label predicate evaluated inside the pruned codes scan —
    (vec_id, label, cosine_sim).""".format(lbl=_FILTER_LABEL)
    return _pruned_rerank_topk_at(
        spark, sf_dir, _serving_layout(spark, sf_dir), 10, label=_FILTER_LABEL
    )


# -- filtered x batched ANN serving --------------------------------------------
# Real serving batches carry PER-QUERY predicates
# (tenant A's query must only see tenant A's vectors). The composition
# multiplies correctly: ONE pruned codes scan over the union probe cells,
# prefiltered by the UNION of requested labels (a literal IN inside the
# scan, row-group pruning under the partition prune), then the exact
# per-query label match rides the same broadcast fan-out row the ADC
# distance tables ride — zero extra passes, zero extra exchanges vs the
# unfiltered batch. The qid=0 slice (label 3) is pinned identical to
# sim_topk_ivfpq_filtered in tests.

_FILTER_LABELS_MULTI = {0: _FILTER_LABEL, 1: 7, 2: 5}
_FILTER_LANGS_MULTI = {0: "de", 1: "en", 2: "es"}  # the hybrids' sparse-arm filter


@register("sim_topk_ivfpq_multi_filtered", _ivfpq_multi_oracle(_FILTER_LABELS_MULTI))
def sim_topk_ivfpq_multi_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered batched ANN serving: exact-cosine top-10 per query AMONG
    each query's own label slice, for the standing 3-query batch with
    per-query predicates {0: label 3, 1: label 7, 2: label 5} — ONE
    pruned, label-prefiltered codes scan; (query_id, vec_id, label,
    cosine_sim, rank)."""
    return multi_topk_ivfpq(
        spark, sf_dir, sorted(_FILTER_LABELS_MULTI), labels=_FILTER_LABELS_MULTI
    )


# -- batched hybrid retrieval: multi-query RRF ---------------------------------
# The serving-tier composition: the batched ANN pass (ONE pruned codes
# scan for all queries' dense arms) fused per-query with the batched
# BM25 pass (ONE prefiltered corpus exchange for all queries' sparse
# arms) by reciprocal-rank fusion. The batch axes multiply correctly:
# Q queries cost two shared passes + Q-partitioned rank windows, never
# 2Q passes — and only RANKS cross the fusion boundary, so the fused
# frame stays <= 2 * _CAND rows per query regardless of corpus size.
# The qid=0 slice is pinned to retrieval_hybrid_rrf_ann in tests.


def _rrf_multi_oracle(filtered: bool = False) -> str:
    """Per query: the single-query probe's top-_CAND as the dense list
    and the batched BM25 top-_CAND as the sparse list, RRF-fused. With
    ``filtered``, each query's dense arm keeps only its
    _FILTER_LABELS_MULTI label and its sparse arm only its
    _FILTER_LANGS_MULTI language."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _CAND,
        _MICRO,
        _MULTI_QUERIES,
        _QUERY_TERMS,
        _RRF_K,
        _TOPK,
        _multi_bm25_ctes,
    )

    assert _MULTI_QUERIES[0] == _QUERY_TERMS  # qid=0 is the standing query
    ctes = _coarse_ctes() + _pq_assign_ctes()
    for qid in _MULTI_QIDS:
        ctes += _ann_ctes(qid, _CAND, _FILTER_LABELS_MULTI[qid] if filtered else None)
        ctes.append(f"dense_{qid} AS (SELECT vec_id AS id, rank AS r_dense FROM top_{qid})")
    ctes.append(_multi_bm25_ctes(_FILTER_LANGS_MULTI if filtered else None))
    fused = []
    for qid in _MULTI_QIDS:
        ctes.append(
            f"""sparse_{qid} AS (SELECT id, r_sparse FROM (
                SELECT doc_id AS id,
                       row_number() OVER (
                         ORDER BY score_micro DESC, doc_id ASC) AS r_sparse
                FROM qbm WHERE query_id = {qid})
                WHERE r_sparse <= {_CAND})"""
        )
        ctes.append(
            f"""fused_{qid} AS (
                SELECT {qid} AS query_id, id,
                       CAST(r_dense AS BIGINT) AS r_dense,
                       CAST(r_sparse AS BIGINT) AS r_sparse,
                       CAST(coalesce(CAST(round({_MICRO}.0 / ({_RRF_K} + r_dense)) AS BIGINT), 0)
                          + coalesce(CAST(round({_MICRO}.0 / ({_RRF_K} + r_sparse)) AS BIGINT), 0)
                         AS BIGINT) AS rrf_micro
                FROM dense_{qid} FULL OUTER JOIN sparse_{qid} USING (id))"""
        )
        fused.append(
            f"""SELECT query_id, id, r_dense, r_sparse, rrf_micro, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    ORDER BY rrf_micro DESC, id ASC) AS BIGINT) AS rank
                FROM fused_{qid}) WHERE rank <= {_TOPK}"""
        )
    return _ann_oracle(ctes, "\nUNION ALL ".join(fused))


@register("retrieval_hybrid_rrf_multi", _rrf_multi_oracle())
def retrieval_hybrid_rrf_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hybrid retrieval: per-query top-20 by RRF of the batched
    pruned-ANN dense top-50 and the batched BM25 sparse top-50 —
    (query_id, id, r_dense, r_sparse, rrf_micro, rank) for the standing
    3-query batch, through ONE dense pass + ONE sparse pass. The sparse
    arm reads only the union terms' postings buckets; the corpus text is
    never scanned at serving time."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _CAND,
        _bm25_base,
        _multi_bm25_scores,
        _multi_query_terms,
        _multi_terms,
        _rrf_fuse_multi,
    )

    return _rrf_fuse_multi(
        multi_topk_ivfpq(spark, sf_dir, _MULTI_QIDS, k=_CAND),
        _multi_bm25_scores(
            _bm25_base(spark, sf_dir, _multi_terms()), _multi_query_terms(spark)
        ),
    )


@register("retrieval_hybrid_rrf_multi_streamed", _rrf_multi_oracle())
def retrieval_hybrid_rrf_multi_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The batched hybrid answered ENTIRELY from STREAMED indexes
    — the full freshness composition: the dense arm
    probes the stream-ingested ANN index (_streamed_index: 3 real
    micro-batches through foreachBatch -> append_cell_epoch), the sparse
    arm scores from the stream-ingested postings index
    (_streamed_text_index: per-batch postings epochs + additive corpus
    stats), and the fusion is the unchanged RRF plan. Shares
    retrieval_hybrid_rrf_multi's oracle — ONE hash match certifies the
    streamed serving stack end to end (both index forms answer
    identically to their one-shot layouts, so the fused ranking must be
    identical too)."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _CAND,
        _multi_bm25_scores,
        _multi_query_terms,
        _multi_terms,
        _rrf_fuse_multi,
        _streamed_text_index,
    )
    from streaming_data_pipeline_capstone_spark.streaming.text_index_stream import (
        bm25_base_from_stream_index,
    )

    dense = multi_topk_ivfpq(
        spark, sf_dir, _MULTI_QIDS, k=_CAND, layout=_streamed_index(spark, sf_dir)
    )
    base = bm25_base_from_stream_index(
        spark, _streamed_text_index(spark, sf_dir), _multi_terms()
    )
    return _rrf_fuse_multi(dense, _multi_bm25_scores(base, _multi_query_terms(spark)))


# -- incremental ANN index maintenance -----------------------------------------
# A serving index must absorb NEW vectors without a rebuild. The layout
# gains an epoch sublevel under cell (cell=<c>/epoch=<e>), appends run
# Θ(new vectors) through the idempotent dynamic-overwrite recipe the
# streaming state indexes use, and probes are UNCHANGED: they prune on
# the leading cell level and read every epoch of the probed cells.
# Rebuild-as-compaction collapses epochs exactly like compact_index.
# The gate query builds the index in two generations (80% as epoch 0,
# the rest appended as epoch 1, split by pmod so it needs no count job)
# and probes it; the oracle is the SAME full-corpus pruned-rerank SQL —
# a hash match proves the incrementally-built index answers identically
# to the one-shot layout.


def _ann_cache_key(sf_dir: str, m) -> dict:
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        model_hash,
    )

    return {
        "source_mtime": source_mtime(sf_dir, "embeddings"),
        "model_hash": model_hash(m.centroids, m.pq_books, m.pq_sub_dim),
    }


def _incr_layout(spark: SparkSession, sf_dir: str) -> str:
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        append_cell_epoch,
        cell_layout_path,
    )

    m = _serving_model(sf_dir)
    path = cell_layout_path(sf_dir, model_tag=m.tag) + "-incr"

    # cached_build clears the whole dir before a rebuild: the epoch
    # appends use dynamic partition overwrite, which only touches
    # (cell, epoch) partitions present in the NEW data — a regenerated
    # corpus/model that leaves some old partition unwritten would
    # otherwise keep the previous build's rows in the index.
    def build() -> None:
        emb = read_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
        delta = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
        append_cell_epoch(base, path, m.centroids, m.pq_books, m.pq_sub_dim, 0)
        append_cell_epoch(delta, path, m.centroids, m.pq_books, m.pq_sub_dim, 1)

    cached_build(path, "_INCR_META.json", _ann_cache_key(sf_dir, m), build)
    return path


@register("sim_topk_ivfpq_rerank_incr", _ivfpq_rerank_oracle())
def sim_topk_ivfpq_rerank_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned serving probe over the INCREMENTALLY-built index (80%
    epoch 0 + 20% appended as epoch 1): identical output to
    sim_topk_ivfpq_rerank_pruned — same oracle — proving index freshness
    costs Θ(new vectors), not a rebuild."""
    return _pruned_rerank_topk_at(
        spark, sf_dir, _incr_layout(spark, sf_dir), 10
    )


# -- streaming ANN index ingestion ---------------------------------------------
# The TRUE streaming form of index freshness: vectors arrive on a
# stream, each micro-batch lands as one epoch under the cell layout
# (streaming/ann_index_stream.py), and a vector is searchable the
# moment its batch commits. The gate query is a REAL Structured
# Streaming run — replay the embeddings table in vec_id order as 3
# micro-batches, drain the ingest job (availableNow), probe the
# STREAMED index with the unchanged pruned serving plan — against the
# SAME full-corpus oracle as the one-shot layout: a hash match
# certifies the incremental, checkpointed execution end to end.


def _streamed_index(spark: SparkSession, sf_dir: str) -> str:
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        cell_layout_path,
    )
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.streaming.ann_index_stream import (
        streaming_index_ingest,
    )

    # Cached per (source mtime, model hash) behind the _incr_layout marker
    # convention: repeated invocations of the registered gate
    # query (oracle sweeps, plan audits, bench legs) reuse ONE streamed
    # index instead of re-running the full replay + ingest into a fresh
    # mkdtemp each call — and the work dir no longer accumulates per call.
    m = _serving_model(sf_dir)
    work = cell_layout_path(sf_dir, model_tag=m.tag) + "-streamed"
    index_path = f"{work}/index"

    def build() -> None:
        vecs = read_table(spark, sf_dir, "embeddings")
        replay_dir = f"{work}/replay"
        schema = replay_to_files(vecs, replay_dir, 3, order_col="vec_id")
        streaming_index_ingest(
            stream_from_replay(spark, replay_dir, schema),
            index_path,
            f"{work}/ckpt",
            m.centroids,
            m.pq_books,
            m.pq_sub_dim,
        ).awaitTermination()

    cached_build(work, "_STREAMED_META.json", _ann_cache_key(sf_dir, m), build)
    return index_path


@register("stream_ann_index_ingest", _ivfpq_rerank_oracle())
def stream_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest the embeddings as a 3-micro-batch stream into a fresh
    epoch-partitioned serving index (foreachBatch -> append_cell_epoch),
    then answer the standard pruned rerank probe FROM the streamed
    index — output and oracle identical to sim_topk_ivfpq_rerank_pruned,
    certifying streaming index freshness end to end."""
    return _pruned_rerank_topk_at(
        spark, sf_dir, _streamed_index(spark, sf_dir), 10
    )


# -- filtered batched hybrid retrieval ------------------------------------------
# The full composition of the serving axes: a query BATCH where each
# query carries a predicate on EACH arm's metadata — the dense arm
# filtered by the vector-store label (per-tenant embeddings), the sparse
# arm by the document language (lang-scoped corpora). Both predicates
# evaluate inside their arm's pruned scan (labels ride in the ANN layout
# rows, lang in the postings rows), the per-query match rides the same
# broadcast frames the batch axes already ship, and fusion still sees
# only ranks. Zero new passes vs the unfiltered batched hybrid.


@register("retrieval_hybrid_rrf_multi_filtered", _rrf_multi_oracle(filtered=True))
def retrieval_hybrid_rrf_multi_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered batched hybrid retrieval: per-query top-20 by RRF where
    each query's dense arm is label-filtered ({0: 3, 1: 7, 2: 5}) and its
    sparse arm lang-filtered ({0: de, 1: en, 2: es}) — both predicates
    inside their arm's pruned scan, one dense pass + one sparse pass."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _CAND,
        _MULTI_QUERIES,
        _bm25_base,
        _multi_bm25_scores,
        _multi_terms,
        _rrf_fuse_multi,
    )

    qt = spark.createDataFrame(
        [
            (qid, t, _FILTER_LANGS_MULTI[qid])
            for qid, ts in sorted(_MULTI_QUERIES.items())
            for t in ts
        ],
        "query_id int, term string, qlang string",
    )
    return _rrf_fuse_multi(
        multi_topk_ivfpq(spark, sf_dir, _MULTI_QIDS, k=_CAND, labels=_FILTER_LABELS_MULTI),
        _multi_bm25_scores(_bm25_base(spark, sf_dir, _multi_terms()), qt),
    )
