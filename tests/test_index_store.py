"""The cached build behind a layout marker (index_store.cached_build)."""

from __future__ import annotations

import os

import pytest


def test_cached_build_writes_marker_last_and_clears_stale_dir(spark, tmp_path):
    """A build that raises leaves no marker, so the next call rebuilds; a
    matching key reuses the build; a stale key clears the whole dir
    first, so a partition only the old build wrote does not survive the
    epoch appends of the new one (dynamic overwrite alone would keep it)."""
    from streaming_data_pipeline_capstone_spark.index_store import (
        cached_build,
        write_epoch_idempotent,
    )

    path = str(tmp_path / "layout")
    marker = os.path.join(path, "_TEST_META.json")
    rows = spark.createDataFrame([(1, 0), (2, 1)], "id bigint, cell int")
    builds = []

    def failing():
        write_epoch_idempotent(rows, path, 0, "cell")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        cached_build(path, "_TEST_META.json", {"v": 1}, failing)
    assert not os.path.exists(marker)

    def old_build():
        builds.append("old")
        write_epoch_idempotent(rows, path, 0, "cell")
        write_epoch_idempotent(rows.filter("id = 2"), path, 1, "cell")
        return {"n": 2}

    meta = cached_build(path, "_TEST_META.json", {"v": 1}, old_build)
    assert meta == {"v": 1, "n": 2} and builds == ["old"]
    assert cached_build(path, "_TEST_META.json", {"v": 1}, old_build) == meta
    assert builds == ["old"]
    assert os.path.isdir(os.path.join(path, "cell=1", "epoch=1"))

    def new_build():
        builds.append("new")
        write_epoch_idempotent(rows, path, 0, "cell")

    assert cached_build(path, "_TEST_META.json", {"v": 2}, new_build) == {"v": 2}
    assert builds == ["old", "new"]
    assert not os.path.exists(os.path.join(path, "cell=1", "epoch=1"))
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [1, 2]
