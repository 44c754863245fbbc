"""Serving layer (S18): color-map expression, stdlib PNG render
round-trip, indexed point lookup."""

from __future__ import annotations

import struct
import zlib

import pytest

from pyspark.sql import functions as F

from biggis_landuse_spark import serving as SV
from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.fixtures import fixture_layer

pytestmark = pytest.mark.slow

BREAKS = [0.2, 0.5]
TILE_BREAKS = [1000.0, 2500.0]
PALETTE = (0x111111FF, 0x222222FF, 0x333333FF)


def test_color_map_expr_buckets(spark):
    df = spark.createDataFrame(
        [(0.1,), (0.2,), (0.4,), (0.9,), (None,)], "v double"
    )
    got = [r["c"] for r in
           df.select(SV.color_map_expr("v", BREAKS, PALETTE).alias("c")).collect()]
    assert got == [0x111111FF, 0x111111FF, 0x222222FF, 0x333333FF, 0]


def _decode_png(png: bytes) -> tuple[int, int, bytes]:
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", png[16:24])
    # single IDAT written by our encoder
    idat_len = struct.unpack(">I", png[33:37])[0]
    assert png[37:41] == b"IDAT"
    raw = zlib.decompress(png[41 : 41 + idat_len])
    rows = b"".join(
        raw[y * (w * 4 + 1) + 1 : (y + 1) * (w * 4 + 1)] for y in range(h)
    )
    return w, h, rows


def test_render_tiles_png_roundtrip(spark):
    tiles = fixture_layer(spark, "b4_red")  # 8×8 tiles
    rendered = SV.render_tiles_png(tiles, TILE_BREAKS, PALETTE)
    rows = {(r["tile_col"], r["tile_row"]): r for r in rendered.collect()}
    assert len(rows) > 0
    # verify pixel-exact round-trip against the JVM-side color map
    want = {
        (r["tile_col"], r["tile_row"]): r["rgba"]
        for r in tiles.select(
            "tile_col",
            "tile_row",
            F.transform(
                F.element_at(F.col("tile")["bands"], 1),
                lambda v: SV.color_map_expr(v, TILE_BREAKS, PALETTE),
            ).alias("rgba"),
        ).collect()
    }
    for key, r in rows.items():
        w, h, rgba = _decode_png(bytes(r["png"]))
        assert (w, h) == (8, 8)
        got_pixels = [
            struct.unpack(">I", rgba[i * 4 : (i + 1) * 4])[0]
            for i in range(w * h)
        ]
        assert got_pixels == [v & 0xFFFFFFFF for v in want[key]]
        assert r["checksum"] == zlib.crc32(bytes(r["png"]))


def test_approx_breaks_monotone(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    breaks = SV.approx_breaks(li, "l_extendedprice", n_classes=10)
    assert len(breaks) == 9
    assert breaks == sorted(breaks)


def test_lookup_tile_pruned(spark, tmp_path):
    cat = LayerCatalog(spark, str(tmp_path / "catalog"))
    cat.write_layer(fixture_layer(spark, "b4_red"), "b4_red", zoom=0)
    hit = SV.lookup_tile(cat, "b4_red", 0, 1, 1)
    rows = hit.collect()
    assert len(rows) == 1
    assert rows[0]["tile_col"] == 1 and rows[0]["tile_row"] == 1
    # partition pruning: the scan must read only the zoom=0 partition
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan


def test_http_tile_server_end_to_end(spark, tmp_path):
    """S18 parity: GET /{zoom}/{x}/{y} returns the same PNG bytes the
    bulk render produces; missing tiles 404; bad routes 400."""
    import urllib.error
    import urllib.request

    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.fixtures import fixture_layer
    from biggis_landuse_spark.serving import TileServer, render_tiles_png

    catalog = LayerCatalog(spark, str(tmp_path / "serve_cat"))
    catalog.write_layer(fixture_layer(spark, "b4_red"), "srv", 2)
    breaks = [float(b) for b in range(500, 5000, 500)]  # 9 → 10 classes

    server = TileServer(catalog, "srv", breaks)
    port = server.start()
    try:
        url = f"http://127.0.0.1:{port}/2/1/1"
        body = urllib.request.urlopen(url).read()
        assert body[:8] == b"\x89PNG\r\n\x1a\n"
        expected = {
            (r["tile_col"], r["tile_row"]): bytes(r["png"])
            for r in render_tiles_png(
                catalog.read_layer("srv", 2), breaks
            ).collect()
        }
        assert body == expected[(1, 1)]
        with pytest.raises(urllib.error.HTTPError) as e404:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/2/9/9")
        assert e404.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e400:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
        assert e400.value.code == 400

        # GET / — the self-contained map client (reference parity:
        # static/index.html:21 wires Leaflet to the same tile route)
        resp = urllib.request.urlopen(f"http://127.0.0.1:{port}/")
        assert resp.headers["Content-Type"].startswith("text/html")
        page = resp.read().decode()
        assert "/{z}/{x}/{y}" in page  # tile URL template referenced
        assert "/meta" in page and "srv" in page
        # self-contained: inline JS only, nothing fetched off-host
        assert "<script>" in page
        assert "https://" not in page and "cdn" not in page.lower()

        # GET /meta — zooms + bounds the client centers on
        import json as _json

        meta = _json.loads(
            urllib.request.urlopen(f"http://127.0.0.1:{port}/meta").read()
        )
        assert meta["layer"] == "srv" and meta["zooms"] == [2]
        assert meta["bounds"] == {
            "zoom": 2,
            "col_min": 0,
            "col_max": 3,
            "row_min": 0,
            "row_max": 3,
        }
    finally:
        server.stop()


def test_concurrent_first_requests_render_once(spark, tmp_path):
    """Racing first lookups for an unrendered zoom must run the bulk
    Spark render exactly once (the lock in _ensure_zoom), and every
    thread must still get the tile."""
    import threading

    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.fixtures import fixture_layer
    from biggis_landuse_spark.serving import TileServer

    catalog = LayerCatalog(spark, str(tmp_path / "serve_cat3"))
    catalog.write_layer(fixture_layer(spark, "b4_red"), "srv3", 2)
    server = TileServer(catalog, "srv3", [1000.0, 2500.0], palette=PALETTE)

    renders = []
    orig = server._render_zoom

    def counting_render(zoom):
        renders.append(zoom)
        orig(zoom)

    server._render_zoom = counting_render

    barrier = threading.Barrier(4)
    results: list[bytes | None] = [None] * 4
    errors: list[Exception] = []

    def hit(i):
        try:
            barrier.wait()
            results[i] = server.lookup(2, 1, 1)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=hit, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    assert renders == [2]  # exactly one render job
    assert all(r is not None and bytes(r)[:8] == b"\x89PNG\r\n\x1a\n" for r in results)


def test_tile_server_cache_bound_guard(spark, tmp_path):
    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.fixtures import fixture_layer
    from biggis_landuse_spark.serving import TileServer

    catalog = LayerCatalog(spark, str(tmp_path / "serve_cat2"))
    catalog.write_layer(fixture_layer(spark, "b4_red"), "srv2", 1)
    server = TileServer(catalog, "srv2", [1.0], max_cached_tiles=2)
    with pytest.raises(MemoryError):
        server.lookup(1, 0, 0)
