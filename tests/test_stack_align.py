"""stack_layers CRS/zoom alignment (reference:
ManyLayersToMultibandLayer.scala:233-259 — createLayerStack reads at
the max finest zoom and reprojects a mismatched layer before the band
concat; without it the tile-key join silently stacks disjoint grids)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark import fixtures as FX
from biggis_landuse_spark.catalog import LayerCatalog
from biggis_landuse_spark.operators.stack import (
    CrsMismatchError,
    ZoomMismatchError,
    stack_layers,
)

pytestmark = pytest.mark.slow


@pytest.fixture()
def cat(spark, tmp_path):
    return LayerCatalog(spark, str(tmp_path / "cat"))


def _write_fixture(cat, spark, layer, zoom, crs="EPSG:3857"):
    tiles = FX.fixture_layer(spark, layer, zoom)
    cat.write_layer(tiles.drop("layer", "zoom"), layer, zoom, crs=crs)


def test_stack_same_zoom_is_plain_join(cat, spark):
    _write_fixture(cat, spark, "b4_red", 3)
    _write_fixture(cat, spark, "b5_nir", 3)
    stacked = stack_layers(cat, ["b5_nir", "b4_red"])
    rows = {(r["tile_col"], r["tile_row"]): r["tile"] for r in stacked.collect()}
    assert len(rows) == FX.GRID * FX.GRID
    t = rows[(1, 2)]
    assert len(t["bands"]) == 2
    assert t["bands"][0][0] == FX.nir_value(1, 2, 0, 0)
    assert t["bands"][1][0] == FX.red_value(1, 2, 0, 0)


def test_stack_autoresamples_coarser_layer(cat, spark):
    # red stored one level coarser: common zoom = 3 (max finest), red
    # must be NN-resampled from zoom 2 onto the zoom-3 grid
    _write_fixture(cat, spark, "b4_red", 2)
    _write_fixture(cat, spark, "b5_nir", 3)
    stacked = stack_layers(cat, ["b5_nir", "b4_red"])
    assert stacked.first()["zoom"] == 3
    rows = {(r["tile_col"], r["tile_row"]): r["tile"] for r in stacked.collect()}
    # join keys: zoom-3 nir keys (0..GRID-1) ∩ children of zoom-2 red
    # keys (0..2*GRID-1) = all GRID² nir tiles
    assert len(rows) == FX.GRID * FX.GRID
    ts = FX.TS
    for (tc, tr) in [(0, 0), (3, 1), (2, 3)]:
        t = rows[(tc, tr)]
        assert len(t["bands"]) == 2
        for (px, py) in [(0, 0), (5, 3), (ts - 1, ts - 1)]:
            assert t["bands"][0][py * ts + px] == FX.nir_value(tc, tr, px, py)
            # NN child pixel ← parent ((o*ts + p) div 2) of tile (tc//2, tr//2)
            ppx = ((tc % 2) * ts + px) // 2
            ppy = ((tr % 2) * ts + py) // 2
            assert t["bands"][1][py * ts + px] == FX.red_value(
                tc // 2, tr // 2, ppx, ppy
            )


def test_stack_prefers_stored_level_over_resample(cat, spark):
    # red exists at BOTH zooms; the stack must read the stored zoom-3
    # level (whose fixture values differ from a zoom-2 resample)
    _write_fixture(cat, spark, "b4_red", 2)
    _write_fixture(cat, spark, "b4_red", 3)
    _write_fixture(cat, spark, "b5_nir", 3)
    stacked = stack_layers(cat, ["b5_nir", "b4_red"])
    rows = {(r["tile_col"], r["tile_row"]): r["tile"] for r in stacked.collect()}
    t = rows[(3, 3)]
    # stored zoom-3 fixture value, NOT red_value(1,1,...) resampled
    assert t["bands"][1][0] == FX.red_value(3, 3, 0, 0)


def test_crs_mismatch_raises_typed_error(cat, spark):
    # a raw pixel-gridded layer (honest crs from the no-reproject
    # ingest) must NOT silently join with a web-mercator layer
    _write_fixture(cat, spark, "b5_nir", 3)
    _write_fixture(cat, spark, "b4_red", 3, crs="pixelgrid:EPSG:32632")
    with pytest.raises(CrsMismatchError, match="pixelgrid"):
        stack_layers(cat, ["b5_nir", "b4_red"])


def test_zoom_gap_without_auto_align_raises(cat, spark):
    _write_fixture(cat, spark, "b4_red", 2)
    _write_fixture(cat, spark, "b5_nir", 3)
    with pytest.raises(ZoomMismatchError, match="auto_align"):
        stack_layers(cat, ["b5_nir", "b4_red"], auto_align=False)


def test_no_coarser_level_raises(cat, spark):
    # red only exists FINER than the requested zoom — downsampling is
    # pyramid building, not stack alignment
    _write_fixture(cat, spark, "b4_red", 4)
    _write_fixture(cat, spark, "b5_nir", 3)
    with pytest.raises(ZoomMismatchError, match="no level"):
        stack_layers(cat, ["b5_nir", "b4_red"], zoom=3)


def _utm_forward(lat_deg, lon_deg, zone):
    from tests.test_reproject import _utm_forward as fwd

    return fwd(lat_deg, lon_deg, zone)


def test_e2e_utm_plus_lonlat_ingest_stack(cat, spark, tmp_path):
    """The reference demo shape: one scene delivered in UTM (Landsat),
    one in EPSG:4326, stacked. Both ingest paths land on the
    EPSG:3857 zoomed layout but at different inferred zooms; the stack
    must auto-resample the coarser onto the common grid and line up
    with a pre-aligned ingest of the same scenes."""
    from biggis_landuse_spark.operators.reproject import (
        ingest_geotiff_webmercator,
        zoom_for_resolution,
        zoom_for_resolution_m,
    )
    from biggis_landuse_spark.sources.tiff import encode_tiff

    h = w = 8
    utm_band = np.arange(h * w, dtype=np.float32).reshape(h, w)
    ll_band = np.arange(100, 100 + h * w, dtype=np.float32).reshape(h, w)
    e, n = _utm_forward(49.0, 8.4, 32)

    d_utm = tmp_path / "utm"
    d_utm.mkdir()
    (d_utm / "s.tif").write_bytes(
        encode_tiff([utm_band], compression="deflate", georef=(e, n, 30.0, 30.0))
    )
    d_ll = tmp_path / "ll"
    d_ll.mkdir()
    (d_ll / "s.tif").write_bytes(
        encode_tiff(
            [ll_band], compression="deflate", georef=(8.4, 49.0, 5e-4, 5e-4)
        )
    )

    z_utm = zoom_for_resolution_m(30.0)
    z_ll = zoom_for_resolution(5e-4)
    assert z_utm == z_ll + 1  # the mismatch under test

    utm = ingest_geotiff_webmercator(spark, str(d_utm), "utm", src_crs="EPSG:32632")
    ll = ingest_geotiff_webmercator(spark, str(d_ll), "lonlat")
    cat.write_layer(utm.select("tile_col", "tile_row", "ts", "tile"), "utm", z_utm)
    cat.write_layer(ll.select("tile_col", "tile_row", "ts", "tile"), "lonlat", z_ll)

    stacked = stack_layers(cat, ["utm", "lonlat"])
    rows = stacked.collect()
    assert rows and rows[0]["zoom"] == z_utm
    auto_keys = {(r["tile_col"], r["tile_row"]) for r in rows}
    band0 = {
        v for r in rows for v in r["tile"]["bands"][0] if v is not None
    }
    band1 = {
        v for r in rows for v in r["tile"]["bands"][1] if v is not None
    }
    assert band0 == {float(i) for i in range(64)}  # every UTM pixel
    assert band1 and band1 <= {float(i) for i in range(100, 164)}

    # pre-aligned ingest: the lonlat scene warped DIRECTLY at the
    # common zoom — the stacked join must cover the same tiles and
    # carry the identical UTM band
    ll_fine = ingest_geotiff_webmercator(
        spark, str(d_ll), "lonlat_fine", zoom=z_utm
    )
    cat.write_layer(
        ll_fine.select("tile_col", "tile_row", "ts", "tile"),
        "lonlat_fine",
        z_utm,
    )
    pre = stack_layers(cat, ["utm", "lonlat_fine"])
    pre_rows = pre.collect()
    assert {(r["tile_col"], r["tile_row"]) for r in pre_rows} == auto_keys
    pre_band0 = {
        v for r in pre_rows for v in r["tile"]["bands"][0] if v is not None
    }
    assert pre_band0 == band0


def test_cli_stack_command(spark, tmp_path):
    # ManyLayersToMultibandLayer as a CLI invocation: two layers at
    # different zooms → one multiband stack layer in the catalog
    from biggis_landuse_spark.__main__ import main

    cat = LayerCatalog(spark, str(tmp_path / "clicat"))
    _write_fixture(cat, spark, "b4_red", 2)
    _write_fixture(cat, spark, "b5_nir", 3)
    assert main([
        "stack", "--catalog", str(tmp_path / "clicat"),
        "--layers", "b5_nir,b4_red", "--out", "stacked",
    ]) == 0
    stacked = cat.read_layer("stacked", 3)
    rows = stacked.collect()
    assert len(rows) == FX.GRID * FX.GRID
    assert all(len(r["tile"]["bands"]) == 2 for r in rows)
    assert cat.layer_crs("stacked") == "EPSG:3857"
