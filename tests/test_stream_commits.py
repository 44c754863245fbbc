"""The streaming sink's commit key: ``versioned_batch_writer`` commits
each (streaming query id, batch id) once, and a re-delivered newest
batch runs its ``on_commit`` step again. Called directly, as
foreachBatch calls it, with the query id set the way a running stream
sets it (the ``sql.streaming.queryId`` local property)."""

from __future__ import annotations

import pytest

from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.streaming.pixels import versioned_batch_writer

QUERY_ID = "sql.streaming.queryId"


def _batch(spark, col: int, value: float):
    return spark.createDataFrame(
        [(col, 0, [[value] * 4], True)],
        "tile_col int, tile_row int, bands array<array<double>>, "
        "complete boolean",
    )


def _tiles(cat, layer):
    return {
        r["tile_col"]: r["tile"]["bands"][0][0]
        for r in cat.read_layer(layer, 0).collect()
    }


def test_new_query_commits_its_batch_zero(spark, tmp_path):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    write = versioned_batch_writer(cat.store, "two_queries", cols=2, rows=2)
    sc = spark.sparkContext
    try:
        sc.setLocalProperty(QUERY_ID, "query-a")
        write(_batch(spark, 0, 1.0), 0)
        sc.setLocalProperty(QUERY_ID, "query-b")  # fresh checkpoint
        write(_batch(spark, 1, 2.0), 0)
        write(_batch(spark, 1, 2.0), 0)  # query-b's re-delivery
    finally:
        sc.setLocalProperty(QUERY_ID, None)
    assert cat.store.versions("two_queries", 0) == [1, 2]
    assert _tiles(cat, "two_queries") == {0: 1.0, 1: 2.0}


def test_failed_on_commit_runs_again_on_replay(spark, tmp_path):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    calls = []

    def on_commit(tiles):
        calls.append(sorted(r["tile_col"] for r in tiles.collect()))
        if len(calls) == 1:
            raise RuntimeError("publish failed")

    write = versioned_batch_writer(
        cat.store, "replayed", cols=2, rows=2, on_commit=on_commit
    )
    with pytest.raises(RuntimeError, match="publish failed"):
        write(_batch(spark, 0, 1.0), 0)
    write(_batch(spark, 0, 1.0), 0)  # re-delivered: on_commit again
    assert cat.store.versions("replayed", 0) == [1]
    assert calls == [[0], [0]]
    write(_batch(spark, 1, 2.0), 1)
    write(_batch(spark, 0, 1.0), 0)  # no longer the newest: skipped
    assert cat.store.versions("replayed", 0) == [1, 2]
    assert calls == [[0], [0], [1]]
