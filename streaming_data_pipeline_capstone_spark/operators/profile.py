"""Table profiling — the data-quality summary a training-data pipeline
runs before/after every transformation stage.

One aggregation pass over the table (no per-column jobs): every metric
for every column is an expression in a single ``agg``, so the profile
costs one scan + one reduce regardless of column count. Output is long
format (one row per column) for easy diffing between pipeline stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (T.IntegerType, T.LongType, T.DoubleType, T.FloatType, T.ShortType, T.DecimalType)


def profile_table(df: DataFrame, exact: bool = False) -> DataFrame:
    """(column, n_rows, n_null, null_frac, n_distinct_approx, min, max)
    per column — numerics profile min/max numerically; everything else
    lexicographically; complex types skip min/max.

    ``n_distinct_approx`` uses HyperLogLog (``approx_count_distinct`` at
    5% relative SD) — the only sane distinct count at 100 TB.
    ``exact=True`` switches to exact distinct counts (validation / small
    data; this is what the DuckDB oracle checks, since HLL estimates
    differ across engines).
    """
    n = F.count(F.lit(1))
    aggs = [n.alias("__n")]
    per_col: list[tuple[str, bool]] = []
    for f in df.schema.fields:
        c = F.col(f.name)
        simple = not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType))
        per_col.append((f.name, simple))
        aggs.append(F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"__null_{f.name}"))
        if simple:
            nd = F.count_distinct(c) if exact else F.approx_count_distinct(c, 0.05)
            aggs.append(nd.alias(f"__nd_{f.name}"))
            aggs.append(F.min(c).cast("string").alias(f"__min_{f.name}"))
            aggs.append(F.max(c).cast("string").alias(f"__max_{f.name}"))

    row = df.agg(*aggs)

    profiles = []
    for name, simple in per_col:
        profiles.append(
            F.struct(
                F.lit(name).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{name}").alias("n_null"),
                F.round(F.col(f"__null_{name}") / F.greatest(F.col("__n"), F.lit(1)), 6).alias(
                    "null_frac"
                ),
                (F.col(f"__nd_{name}") if simple else F.lit(None).cast("long")).alias(
                    "n_distinct_approx"
                ),
                (F.col(f"__min_{name}") if simple else F.lit(None).cast("string")).alias("min"),
                (F.col(f"__max_{name}") if simple else F.lit(None).cast("string")).alias("max"),
            )
        )
    return row.select(F.explode(F.array(*profiles)).alias("p")).select("p.*")
