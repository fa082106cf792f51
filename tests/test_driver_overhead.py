"""Pins for the r15 driver-overhead optimizations (#8–#10 of the round-15
optimization notes, in git history at 78bf83b): single-round-trip model
literals, per-path schema memos. Each optimization changed an operator's
internals without changing values — these tests pin the "without
changing values" half.
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F


def _bits(xs):
    return [None if x is None else struct.pack("<d", x) for x in xs]


class TestLitDoubleBuilders:
    def test_array_bit_identical_to_per_element_lit(self, spark):
        from streaming_data_pipeline_capstone_spark.operators.similarity import (
            lit_double_array,
        )

        vals = [
            0.1,
            -0.0,
            1e-300,
            1.7976931348623157e308,
            123456789.123456789,
            3e-05,
            -2.5,
            7.0,
        ]
        row = (
            spark.range(1)
            .select(
                F.lit(vals).alias("old"), lit_double_array(vals).alias("new")
            )
            .head()
        )
        assert _bits(row["old"]) == _bits(row["new"])

    def test_matrix_bit_identical_to_per_row_lit(self, spark):
        from streaming_data_pipeline_capstone_spark.operators.similarity import (
            lit_double_matrix,
        )

        mat = [[0.1, 2.0, -3.5e-7], [1.0 / 3.0, 2.0 / 7.0, 6.02e23]]
        old = F.array(*[F.lit([float(x) for x in r]) for r in mat])
        row = (
            spark.range(1)
            .select(old.alias("old"), lit_double_matrix(mat).alias("new"))
            .head()
        )
        for a, b in zip(row["old"], row["new"]):
            assert _bits(a) == _bits(b)

    def test_adc_score_unchanged_by_literal_form(self, spark):
        """pq_adc_score through the one-call literals equals the
        per-element-literal formulation exactly (same index-order sum)."""
        from streaming_data_pipeline_capstone_spark.operators.similarity import (
            pq_adc_tables,
            pq_adc_score,
        )

        books = [
            [[0.0, 1.0], [2.0, 3.0], [0.5, -0.25]],
            [[1.0, 1.0], [-1.0, 2.0], [0.125, 8.0]],
        ]
        query = [0.3, -0.7, 1.1, 0.9]
        df = spark.createDataFrame(
            [(0, 0), (1, 2), (2, 1)], ["c0", "c1"]
        )
        code_cols = [F.col("c0"), F.col("c1")]
        new = pq_adc_score(code_cols, query, books, sub_dim=2)
        old = F.lit(0.0)
        for s, table in enumerate(pq_adc_tables(query, books, sub_dim=2)):
            old = old + F.element_at(F.lit(table), code_cols[s].cast("int") + 1)
        rows = df.select(old.alias("old"), new.alias("new")).collect()
        assert _bits([r["old"] for r in rows]) == _bits(
            [r["new"] for r in rows]
        )


class TestSchemaMemos:
    def test_read_table_second_open_uses_cached_schema(self, spark, sf_smoke):
        from streaming_data_pipeline_capstone_spark.sources import readers

        readers._SCHEMA_CACHE.pop(f"{sf_smoke}/documents.parquet", None)
        a = readers.read_table(spark, sf_smoke, "documents")
        assert f"{sf_smoke}/documents.parquet" in readers._SCHEMA_CACHE
        b = readers.read_table(spark, sf_smoke, "documents")
        assert a.schema == b.schema
        assert sorted(r["doc_id"] for r in a.select("doc_id").collect()) == sorted(
            r["doc_id"] for r in b.select("doc_id").collect()
        )

    def test_read_table_ns_timestamp_normalization_survives_memo(
        self, spark, sf_smoke
    ):
        """events.ts (TIMESTAMP NANOS) must come back TimestampType on
        both the inferring open and the schema-declared reopen."""
        from pyspark.sql import types as T

        from streaming_data_pipeline_capstone_spark.sources import readers

        readers._SCHEMA_CACHE.pop(f"{sf_smoke}/events.parquet", None)
        a = readers.read_table(spark, sf_smoke, "events")
        b = readers.read_table(spark, sf_smoke, "events")
        assert isinstance(a.schema["ts"].dataType, T.TimestampType)
        assert isinstance(b.schema["ts"].dataType, T.TimestampType)
        ra = a.select(F.max("ts").alias("m")).head()["m"]
        rb = b.select(F.max("ts").alias("m")).head()["m"]
        assert ra == rb

    def test_read_index_memo_returns_identical_frames(self, spark, tmp_path):
        from streaming_data_pipeline_capstone_spark import index_store

        path = str(tmp_path / "idx")
        df = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0), (3, "c", 1)], ["doc", "bh", "epoch"]
        )
        df.write.partitionBy("epoch").parquet(path)
        index_store._INDEX_SCHEMA_CACHE.pop(path, None)
        a = index_store.read_index(spark, path)
        assert path in index_store._INDEX_SCHEMA_CACHE
        b = index_store.read_index(spark, path, exclude_epoch=1)
        assert sorted(r["doc"] for r in a.collect()) == [1, 2, 3]
        assert sorted(r["doc"] for r in b.collect()) == [1, 2]
