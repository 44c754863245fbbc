"""WebDataset tar-shard sink/source: executor-side round trip,
reproducible shard bytes, multimodal integration."""

from __future__ import annotations

import glob
import hashlib
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark.sources.webdataset import (
    read_webdataset,
    write_webdataset,
)

pytestmark = pytest.mark.slow


def _docs(spark, n=20):
    return spark.createDataFrame(
        [
            (f"{i:06d}", bytes([i % 256] * (10 + i)), f'{{"id": {i}}}')
            for i in range(n)
        ],
        "key string, payload binary, meta string",
    )


def test_round_trip_all_samples(spark, tmp_path):
    out = str(tmp_path / "wds")
    df = _docs(spark).repartition(3, "key").sortWithinPartitions("key")
    manifest = write_webdataset(df, out).collect()
    assert sum(m["n_samples"] for m in manifest) == 20
    shards = sorted(glob.glob(os.path.join(out, "shard-*.tar")))
    assert len(shards) == len(manifest) <= 3

    back = read_webdataset(spark, out)
    rows = {r["key"]: r for r in back.collect()}
    assert len(rows) == 20
    for i in range(20):
        k = f"{i:06d}"
        assert rows[k]["payload"] == bytes([i % 256] * (10 + i))
        assert rows[k]["meta"] == f'{{"id": {i}}}'


def test_shards_are_valid_webdataset_tars(spark, tmp_path):
    # any standard tar reader (the WebDataset contract) must see the
    # paired basename entries in sequence
    out = str(tmp_path / "wds")
    write_webdataset(_docs(spark, 4).coalesce(1), out).collect()
    (shard,) = glob.glob(os.path.join(out, "*.tar"))
    with tarfile.open(shard) as tar:
        names = tar.getnames()
    stems = [n.rsplit(".", 1)[0] for n in names]
    assert names == sorted(names, key=lambda n: (n.rsplit(".", 1)[0],))
    for i in range(4):
        assert stems.count(f"{i:06d}") == 2  # .bin + .json pair


def test_deterministic_shard_bytes(spark, tmp_path):
    # zeroed tar metadata: identical input partitions → identical bytes
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df = _docs(spark).repartition(2, "key").sortWithinPartitions("key")
    write_webdataset(df, a).collect()
    write_webdataset(df, b).collect()

    def digest(d):
        return {
            os.path.basename(p): hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in glob.glob(os.path.join(d, "*.tar"))
        }

    assert digest(a) == digest(b)


def test_multimodal_payloads_survive(spark, tmp_path):
    # real JPEG payloads through the shard round trip, then decoded
    import numpy as np

    from biggis_landuse_spark.multimodal import decode_media
    from biggis_landuse_spark.sources.jpeg import encode_jpeg

    imgs = []
    for i in range(3):
        arr = np.full((8, 8), 40 * (i + 1), dtype=np.uint8)
        imgs.append((f"{i:06d}", encode_jpeg(8, 8, arr.tobytes(), channels=1), "{}"))
    df = spark.createDataFrame(imgs, "key string, payload binary, meta string")
    out = str(tmp_path / "wds")
    write_webdataset(df.coalesce(1), out).collect()
    back = read_webdataset(spark, out).select(
        F.col("key").cast("long").alias("doc_id"),
        F.col("payload").alias("content"),
    )
    decoded = {r["doc_id"]: r for r in decode_media(back, codec="jpeg").collect()}
    for i in range(3):
        r = decoded[i]
        assert (r["width"], r["height"], r["channels"]) == (8, 8, 1)
        assert r["pixels"] == [40 * (i + 1) / 255.0] * 64  # flat: exact


def test_empty_partitions_write_no_shards(spark, tmp_path):
    out = str(tmp_path / "wds")
    df = _docs(spark, 2).repartition(8)  # most partitions empty
    manifest = write_webdataset(df, out).collect()
    assert sum(m["n_samples"] for m in manifest) == 2
    assert len(glob.glob(os.path.join(out, "*.tar"))) == len(manifest)
