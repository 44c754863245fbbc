"""M3 tests: sample codecs round-trip (property-based), normalization,
OneVsRest classification, GeoTiff ingest plumbing."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from biggis_landuse_spark import fixtures as FX
from biggis_landuse_spark.ml.classify import (
    accuracy,
    load_model,
    predict,
    save_model,
    split_samples,
    train_ova,
)
from biggis_landuse_spark.ml.normalize import band_min_max, normalize_layer
from biggis_landuse_spark.operators.local import band_concat
from biggis_landuse_spark.pixeling import (
    labeled_pixel_samples,
    tiles_to_pixels,
)
from biggis_landuse_spark.sources.codecs import (
    decode_sample,
    encode_sample,
    load_samples_csv,
    load_samples_libsvm,
    save_samples_csv,
    save_samples_libsvm,
)
from biggis_landuse_spark.sources.geotiff import (
    FakeRampDecoder,
    ingest_geotiff,
)

pytestmark = [pytest.mark.slow, pytest.mark.usefixtures("spark")]


@pytest.fixture(scope="module")
def samples(spark):
    """Labeled samples from the fixture stack: label band + nir + red."""
    labels = FX.fixture_layer(spark, "labels").select(
        "layer", "zoom", "tile_col", "tile_row", F.col("tile").alias("lt")
    )
    nir = FX.fixture_layer(spark, "b5_nir").select(
        "tile_col", "tile_row", F.col("tile").alias("nt")
    )
    red = FX.fixture_layer(spark, "b4_red").select(
        "tile_col", "tile_row", F.col("tile").alias("rt")
    )
    stack = (
        labels.join(nir, ["tile_col", "tile_row"])
        .join(red, ["tile_col", "tile_row"])
        .select(
            "layer", "zoom", "tile_col", "tile_row",
            band_concat(band_concat(F.col("lt"), F.col("nt")), F.col("rt")).alias(
                "tile"
            ),
        )
    )
    return labeled_pixel_samples(tiles_to_pixels(stack), label_band=0).cache()


# -- codecs -----------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    tc=st.integers(-5, 100),
    tr=st.integers(-5, 100),
    px=st.integers(0, 255),
    py=st.integers(0, 255),
    label=st.integers(0, 9),
    feats=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=6,
    ),
)
def test_sample_codec_roundtrip(tc, tr, px, py, label, feats):
    """Property: decode(encode(x)) == x (reference codec
    UtilsSVM.scala:170-191 round-trip, SURVEY.md §5.5)."""
    spark = _SPARK[0]
    df = spark.createDataFrame(
        [(tc, tr, px, py, float(label), feats)],
        "tile_col int, tile_row int, px int, py int, label double, "
        "features array<double>",
    )
    out = (
        df.select(encode_sample().alias("line"))
        .select(decode_sample(F.col("line")).alias("s"))
        .select("s.*")
        .first()
    )
    assert (out["tile_col"], out["tile_row"], out["px"], out["py"]) == (
        tc, tr, px, py,
    )
    assert out["label"] == float(label)
    assert out["features"] == pytest.approx(feats)


_SPARK = []


@pytest.fixture(autouse=True, scope="module")
def _capture_spark(spark):
    _SPARK.append(spark)
    yield
    _SPARK.clear()


def test_csv_roundtrip_files(spark, tmp_path, samples):
    path = str(tmp_path / "samples_csv")
    subset = samples.limit(50)
    save_samples_csv(subset, path)
    back = load_samples_csv(spark, path)
    a = {tuple(r) for r in subset.select(
        "tile_col", "tile_row", "px", "py", "label").collect()}
    b = {tuple(r) for r in back.select(
        "tile_col", "tile_row", "px", "py", "label").collect()}
    assert a == b


def test_libsvm_roundtrip(spark, tmp_path, samples):
    path = str(tmp_path / "libsvm")
    subset = samples.where(F.col("label") > 0).limit(40)
    save_samples_libsvm(subset, path)
    back = load_samples_libsvm(spark, path, n_features=2)
    assert back.count() == 40
    orig_sum = subset.select(
        F.sum(F.expr("aggregate(features, 0.0D, (a, x) -> a + x)"))
    ).first()[0]
    back_sum = back.select(
        F.sum(F.expr("aggregate(features, 0.0D, (a, x) -> a + x)"))
    ).first()[0]
    assert back_sum == pytest.approx(orig_sum)


# -- normalize --------------------------------------------------------------


def test_normalize_layer(spark):
    nir = FX.fixture_layer(spark, "b5_nir")
    mm = {r["band"]: (r["vmin"], r["vmax"]) for r in band_min_max(nir).collect()}
    assert mm[0][0] == FX.nir_value(0, 0, 0, 0)
    assert mm[0][1] == FX.nir_value(3, 3, 7, 7)

    normed = normalize_layer(nir)
    px = tiles_to_pixels(normed).agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).first()
    assert px["lo"] == 0.0
    assert px["hi"] == 1.0


def test_normalize_skips_class_band(spark):
    labels = FX.fixture_layer(spark, "labels")
    nir = FX.fixture_layer(spark, "b5_nir").select(
        "tile_col", "tile_row", F.col("tile").alias("nt")
    )
    stack = labels.join(nir, ["tile_col", "tile_row"]).select(
        "layer", "zoom", "tile_col", "tile_row", "ts",
        band_concat(F.col("tile"), F.col("nt")).alias("tile"),
    )
    normed = normalize_layer(stack, skip_band=0)
    px = tiles_to_pixels(normed)
    label_max = px.where(F.col("band") == 0).agg(F.max("value")).first()[0]
    feat_max = px.where(F.col("band") == 1).agg(F.max("value")).first()[0]
    assert label_max == 3.0  # untouched class ids
    assert feat_max == 1.0  # normalized


# -- classify ---------------------------------------------------------------


def test_train_predict_persist_accuracy(spark, tmp_path):
    # linearly separable 4-quadrant labels (fixture labels are position-
    # parity classes — deliberately NOT separable — so learnability is
    # asserted on a constructed set, like the reference's
    # sample_libsvm_data sanity check, TestClassifierSVM.scala:17-20)
    import random

    rng = random.Random(42)
    rows = [
        (
            i % 16, i // 16, i % 8, i // 8,
            float(1 + (x > 0) + 2 * (y > 0)),
            [x + rng.gauss(0, 0.1), y + rng.gauss(0, 0.1)],
        )
        for i, (x, y) in enumerate(
            (rng.uniform(-1, 1), rng.uniform(-1, 1)) for _ in range(400)
        )
    ]
    quad = spark.createDataFrame(
        rows,
        "tile_col int, tile_row int, px int, py int, label double, "
        "features array<double>",
    )
    from biggis_landuse_spark.ml.classify import num_classes

    assert num_classes(quad) == 5  # labels 1..4 → max+1 (A10 semantics)
    train, test = split_samples(quad)
    model = train_ova(train, max_iter=30)
    preds = predict(model, test)
    acc = accuracy(preds)
    # one-vs-rest with a linear base cannot carve a quadrant from the
    # other three perfectly; argmax scoring lands ~0.89 — assert well
    # above the 4-class prior instead of perfection
    assert acc > 0.8, acc

    path = str(tmp_path / "ova_model")
    save_model(model, path)
    reloaded = load_model(path)
    acc2 = accuracy(predict(reloaded, test))
    assert acc2 == pytest.approx(acc)


# -- geotiff plumbing -------------------------------------------------------


def test_geotiff_ingest_with_fake_decoder(spark, tmp_path):
    raw = tmp_path / "scene.tif"
    w, h = 16, 16
    raw.write_bytes(
        w.to_bytes(4, "little") + h.to_bytes(4, "little") + b"\0" * 16
    )
    tiles = ingest_geotiff(
        spark, str(raw), layer="scene", tile_size=8, decoder=FakeRampDecoder()
    )
    rows = tiles.collect()
    assert len(rows) == 4  # 16x16 / 8x8
    by_key = {(r["tile_col"], r["tile_row"]): r["tile"] for r in rows}
    # ramp value at global (px=9, py=2) = 2*16+9 = 41 → tile (1,0) local (1,2)
    assert by_key[(1, 0)]["bands"][0][2 * 8 + 1] == 41.0


def test_geotiff_decoder_stub_raises(spark, tmp_path):
    raw = tmp_path / "x.tif"
    raw.write_bytes(b"\0" * 32)
    with pytest.raises(Exception, match="rasterio|GDAL|decoder|NotImplemented"):
        ingest_geotiff(spark, str(raw), layer="x", tile_size=8).collect()


def test_split_samples_hash_mode_deterministic_and_disjoint(spark):
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    a_train, a_test = split_samples(df, mode="hash", key_col="k")
    b_train, b_test = split_samples(df, mode="hash", key_col="k")
    ta = {r["k"] for r in a_train.collect()}
    sa = {r["k"] for r in a_test.collect()}
    # exhaustive + disjoint + rerun-stable (pure function of the key)
    assert ta | sa == set(range(1000)) and not (ta & sa)
    assert ta == {r["k"] for r in b_train.collect()}
    # ~60/40 by construction (154/256 of a uniform hash)
    assert 0.5 < len(ta) / 1000 < 0.7
    # membership is per-key, independent of the rest of the corpus
    sub = df.where(F.col("k") < 100)
    st, _ = split_samples(sub, mode="hash", key_col="k")
    assert {r["k"] for r in st.collect()} == {k for k in ta if k < 100}
    with pytest.raises(ValueError, match="key_col"):
        split_samples(df, mode="hash")
    with pytest.raises(ValueError, match="unknown split mode"):
        split_samples(df, mode="banana")


def test_split_samples_random_mode_contract(spark):
    # reference-compat seeded mode: deterministic within the engine,
    # disjoint, exhaustive, fractions near the weights
    df = spark.range(2000).select(F.col("id").alias("k"))
    t1, s1 = split_samples(df)
    t2, s2 = split_samples(df)
    ta, sa = {r["k"] for r in t1.collect()}, {r["k"] for r in s1.collect()}
    assert ta | sa == set(range(2000)) and not (ta & sa)
    assert ta == {r["k"] for r in t2.collect()}
    assert 0.5 < len(ta) / 2000 < 0.7


def test_classifier_predicts_in_a_session_that_ran_an_observation(spark):
    # an Observation (user code's metrics) leaves the session
    # unserializable; a model that kept its training summary, which
    # holds the session, could then not ship its predict UDF
    from pyspark.sql import Observation

    spark.range(3).observe(Observation(), F.count(F.lit(1))).collect()
    samples = spark.createDataFrame(
        [(1.0 + (i % 2), [float(i % 2), 1.0 - i % 2]) for i in range(8)],
        "label double, features array<double>",
    )
    model = train_ova(samples, max_iter=5)
    assert accuracy(predict(model, samples)) == 1.0
