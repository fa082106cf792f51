"""Oracle-checked scalar-function queries (SURVEY §2.2-§2.3).

Each query exercises one scalar capability of the engine on the ``events``
testdata table, with a DuckDB SQL twin computing the identical values.
Since ``events`` carries no geo columns, deterministic pseudo-coordinates
are derived from integer columns (exact arithmetic in both engines), then
fed through the real engine functions — the same Column expressions the
AIS pipeline uses (plans/preprocess.py).

Dialect bridges handled here (and to copy into future oracles):
- DuckDB list indexing is 1-based (``l[1]``) vs Spark ``getItem(0)``
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to replace all
- DuckDB ``CAST(ts AS TIMESTAMP)`` truncates the ns-precision events.ts
  exactly like the engine's read-side ns→µs conversion
- floats are rounded in BOTH engines before comparison
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.functions.cleaning import rot_decode
from streaming_data_pipeline_capstone_spark.functions.geo import ecef_x, ecef_y, haversine_km, wkt_point_lonlat
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.schemas import format_ts_z, parse_ts_z
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

# deterministic pseudo-coordinates from integer columns (exact in fp64)
_LON_SQL = "CAST(105 + user_id % 18 AS DOUBLE) + 0.25"
_LAT_SQL = "CAST(7 + event_id % 16 AS DOUBLE) + 0.5"


def _with_lonlat(events: DataFrame) -> DataFrame:
    return events.withColumn("lon", F.expr(_LON_SQL)).withColumn("lat", F.expr(_LAT_SQL))


# -- F1: WKT coordinate extraction (native rewrite of preprocess.py:46-50) --
@register(
    "scalar_wkt_extract",
    f"""
    WITH src AS (
      SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    ), wkt AS (
      SELECT event_id,
             concat('POINT(', CAST(lon AS VARCHAR), ' ', CAST(lat AS VARCHAR), ')') AS position
      FROM src
    ), parsed AS (
      SELECT event_id, position,
             string_split(trim(regexp_replace(position, '[a-zA-Z()]', '', 'g')), ' ') AS parts
      FROM wkt
    )
    SELECT event_id, position,
           CAST(parts[1] AS DOUBLE) AS longitude,
           CAST(parts[2] AS DOUBLE) AS latitude
    FROM parsed
    """,
)
def scalar_wkt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _with_lonlat(read_table(spark, sf_dir, "events"))
    wkt = events.withColumn(
        "position",
        F.concat(
            F.lit("POINT("),
            F.col("lon").cast("string"),
            F.lit(" "),
            F.col("lat").cast("string"),
            F.lit(")"),
        ),
    )
    # one parse per row behind a Generate barrier (see wkt_point_lonlat)
    return wkt.select(
        "event_id", "position", F.explode(F.array(wkt_point_lonlat("position"))).alias("lonlat")
    ).select(
        "event_id",
        "position",
        F.col("lonlat").getItem(0).alias("longitude"),
        F.col("lonlat").getItem(1).alias("latitude"),
    )


# -- F2: geodetic → ECEF (native rewrite of _util.py:58-79) ------------------
_ECEF_SQL_N = "(6378137.0 / sqrt(1.0 - ((1.0/298.257223563)*(2.0 - 1.0/298.257223563)) * pow(sin(radians(lat)), 2)))"


@register(
    "scalar_ecef",
    f"""
    WITH src AS (
      SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
    )
    SELECT event_id, lon, lat,
           round(({_ECEF_SQL_N} + 124.0) * cos(radians(lat)) * cos(radians(lon)), 4) AS cartesian_x,
           round(({_ECEF_SQL_N} + 124.0) * cos(radians(lat)) * sin(radians(lon)), 4) AS cartesian_y
    FROM src
    """,
)
def scalar_ecef(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _with_lonlat(read_table(spark, sf_dir, "events"))
    return events.select(
        "event_id",
        "lon",
        "lat",
        F.round(ecef_x("lon", "lat"), 4).alias("cartesian_x"),
        F.round(ecef_y("lon", "lat"), 4).alias("cartesian_y"),
    )


# -- F7: haversine step distance per key (lag + great-circle) ----------------
@register(
    "scalar_haversine_step",
    f"""
    WITH src AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             {_LON_SQL} AS lon, {_LAT_SQL} AS lat
      FROM events
    ), stepped AS (
      SELECT event_id, user_id, lon, lat,
             lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lon_prev,
             lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lat_prev
      FROM src
    )
    SELECT event_id, user_id,
           round(2.0 * 6371.0 * asin(sqrt(
             pow(sin((radians(lat) - radians(lat_prev)) / 2), 2)
             + cos(radians(lat_prev)) * cos(radians(lat))
               * pow(sin((radians(lon) - radians(lon_prev)) / 2), 2)
           )), 4) AS step_km
    FROM stepped
    """,
)
def scalar_haversine_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _with_lonlat(read_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = events.withColumn("lon_prev", F.lag("lon").over(w)).withColumn(
        "lat_prev", F.lag("lat").over(w)
    )
    return stepped.select(
        "event_id",
        "user_id",
        F.round(haversine_km("lon_prev", "lat_prev", "lon", "lat"), 4).alias("step_km"),
    )


# -- F6: AIS rate-of-turn decode ---------------------------------------------
@register(
    "scalar_rot_decode",
    """
    SELECT event_id, value,
           round(sign(value - 12.5) * pow(abs(value - 12.5) / 4.733, 2.0), 6) AS rot_deg_min
    FROM events
    """,
)
def scalar_rot_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    rot = F.col("value") - F.lit(12.5)  # recenter so both signs occur
    return events.select(
        "event_id",
        "value",
        F.round(rot_decode(rot), 6).alias("rot_deg_min"),
    )


# -- F4/F5 twin: timestamp format/parse with literal 'Z' ---------------------
@register(
    "scalar_ts_z_roundtrip",
    """
    SELECT event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%SZ') AS ts_z,
           strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%SZ'),
                    '%Y-%m-%d %H:%M:%SZ') AS ts_parsed
    FROM events
    """,
)
def scalar_ts_z_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        format_ts_z("ts").alias("ts_z"),
        parse_ts_z(format_ts_z("ts")).alias("ts_parsed"),
    )


# -- JSON decode (P2 family, on the events.props payload) --------------------
@register(
    "scalar_json_extract",
    """
    SELECT event_id, props,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
    FROM events
    """,
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "props",
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


# -- P6/P9/P10: bbox-style range + IN-list + sentinel null-out ---------------
@register(
    "scalar_clean_filter",
    """
    SELECT event_id, user_id, event_type,
           CASE WHEN value = 0.0 OR value >= 19.0 THEN NULL ELSE value END AS value_clean
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
      AND value > 0.5 AND value < 19.5
    """,
)
def scalar_clean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    v = F.col("value")
    kept = events.filter(
        F.col("event_type").isin("click", "view", "purchase") & (v > 0.5) & (v < 19.5)
    )
    cleaned = F.when((v == 0.0) | (v >= 19.0), F.lit(None)).otherwise(v)
    return kept.select(
        "event_id", "user_id", "event_type", cleaned.alias("value_clean")
    )


# -- W4: per-key forward fill of nulled spikes --------------------------------
@register(
    "scalar_spike_ffill",
    """
    WITH nulled AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN value >= 15.0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_repaired
    FROM nulled
    """,
)
def scalar_spike_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.functions.cleaning import spike_repair

    events = read_table(spark, sf_dir, "events")
    # deterministic order: ties in ts broken by event_id
    events = events.withColumn("_ord", F.struct("ts", "event_id"))
    repaired = spike_repair(
        events.withColumnRenamed("value", "value_repaired"),
        key="user_id",
        order_col="_ord",
        value_col="value_repaired",
        is_spike=F.col("value_repaired") >= F.lit(15.0),
    )
    return repaired.select("event_id", "user_id", "value_repaired")


# -- F8/F9: path-angle + step features (reference README.md:48) --------------
@register(
    "feature_path_angle",
    f"""
    WITH src AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             {_LON_SQL} AS x, {_LAT_SQL} AS y
      FROM events
    ), lagged AS (
      SELECT event_id, user_id, x, y,
             lag(x, 2) OVER w AS x1, lag(y, 2) OVER w AS y1,
             lag(x, 1) OVER w AS x2, lag(y, 1) OVER w AS y2
      FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           round(CASE
             WHEN degrees(abs(atan2(y - y2, x - x2) - atan2(y2 - y1, x2 - x1))) > 180.0
             THEN 360.0 - degrees(abs(atan2(y - y2, x - x2) - atan2(y2 - y1, x2 - x1)))
             ELSE degrees(abs(atan2(y - y2, x - x2) - atan2(y2 - y1, x2 - x1)))
           END, 6) AS path_angle,
           CASE WHEN y > 7.0 AND y < 23.0 AND x > 105.0 AND x < 123.0
                THEN 1 ELSE 0 END AS in_region
    FROM lagged
    """,
)
def feature_path_angle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn angle at each point from the two previous per-key positions
    (W3 lag + F8 atan2) and the F9 region dummy, on pseudo-coordinates."""
    from streaming_data_pipeline_capstone_spark.functions.cleaning import bbox_filter
    from streaming_data_pipeline_capstone_spark.functions.geo import path_angle_deg

    events = _with_lonlat(read_table(spark, sf_dir, "events")).withColumnRenamed(
        "lon", "x"
    ).withColumnRenamed("lat", "y")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = (
        events.withColumn("x1", F.lag("x", 2).over(w))
        .withColumn("y1", F.lag("y", 2).over(w))
        .withColumn("x2", F.lag("x", 1).over(w))
        .withColumn("y2", F.lag("y", 1).over(w))
    )
    return lagged.select(
        "event_id",
        "user_id",
        F.round(path_angle_deg("x1", "y1", "x2", "y2", "x", "y"), 6).alias("path_angle"),
        F.when(bbox_filter("y", "x"), 1).otherwise(0).alias("in_region"),
    )


# -- Spark 4 VARIANT: semi-structured decode without a fixed schema ----------
# The modern alternative to from_json-with-schema for ragged payloads: one
# parse_json into the binary VARIANT encoding, then typed variant_get
# extractions by path. The oracle recomputes the extractions from the
# source columns — the JSON roundtrip is lossless (ints exact,
# shortest-roundtrip doubles), the same guarantee pipeline_preprocess_full
# relies on. The variant column is projected once so the three extracts
# share a single parse (CollapseProject keeps non-cheap multiply-
# referenced projections materialized).
@register(
    "scalar_variant_extract",
    """
    SELECT event_id,
           user_id AS vuser,
           event_type AS vtype,
           value AS vvalue
    FROM events
    """,
)
def scalar_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    envelope = F.to_json(
        F.struct(
            F.col("event_id"),
            F.struct(F.col("user_id"), F.col("event_type")).alias("meta"),
            F.col("value"),
        )
    )
    with_v = events.select("event_id", F.parse_json(envelope).alias("v"))
    return with_v.select(
        "event_id",
        F.variant_get("v", "$.meta.user_id", "bigint").alias("vuser"),
        F.variant_get("v", "$.meta.event_type", "string").alias("vtype"),
        F.variant_get("v", "$.value", "double").alias("vvalue"),
    )
