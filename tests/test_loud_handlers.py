"""The broad exception handlers that keep going after a failure log a
WARNING/ERROR naming the exception and count themselves: package
shipping's addPyFile, release_caches' unpersist and the tile server's
two 500 answers. Spark-free: each failure is forced with a stand-in."""

from __future__ import annotations

import urllib.error
import urllib.request
from types import SimpleNamespace

import pytest


def _boom(*args, **kwargs):
    raise RuntimeError("forced failure")


def test_add_pyfile_failure_logs_and_counts(monkeypatch, caplog):
    from biggis_landuse_spark import shipping

    monkeypatch.setattr(shipping, "_SHIPPED", set())
    spark = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=_boom))
    before = shipping.ADD_PYFILE_FAILURES
    with caplog.at_level("WARNING", logger="biggis_landuse_spark.shipping"):
        shipping.ensure_package_shipped(spark)
    assert shipping.ADD_PYFILE_FAILURES == before + 1
    [rec] = caplog.records
    assert "RuntimeError" in rec.getMessage()
    assert "forced failure" in rec.getMessage()


def test_unpersist_failure_logs_counts_and_releases_the_rest(
    monkeypatch, caplog
):
    from biggis_landuse_spark import queries

    released = []
    ok = SimpleNamespace(unpersist=lambda: released.append("ok"))
    bad = SimpleNamespace(unpersist=_boom)
    monkeypatch.setattr(queries, "_ACTIVE_CACHES", [ok, bad])
    before = queries.UNPERSIST_FAILURES
    with caplog.at_level("WARNING", logger="biggis_landuse_spark.queries"):
        queries.release_caches()
    assert queries.UNPERSIST_FAILURES == before + 1
    assert released == ["ok"] and queries._ACTIVE_CACHES == []
    [rec] = caplog.records
    assert "RuntimeError" in rec.getMessage()
    assert "forced failure" in rec.getMessage()


@pytest.mark.parametrize(
    "path, method", [("/meta", "meta"), ("/3/1/2", "lookup")]
)
def test_tile_server_500_logs_and_counts(monkeypatch, caplog, path, method):
    from biggis_landuse_spark import serving

    server = serving.TileServer(None, "layer", [1.0])
    monkeypatch.setattr(server, method, _boom)
    port = server.start()
    before = serving.SERVER_ERRORS
    try:
        with caplog.at_level("ERROR", logger="biggis_landuse_spark.serving"):
            with pytest.raises(urllib.error.HTTPError) as err:
                urllib.request.urlopen(f"http://127.0.0.1:{port}{path}")
    finally:
        server.stop()
    assert err.value.code == 500
    assert serving.SERVER_ERRORS == before + 1
    [rec] = caplog.records
    assert path in rec.getMessage()
    assert "RuntimeError" in rec.getMessage()
