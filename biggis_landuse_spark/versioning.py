"""Snapshot-versioned layer storage: atomic commits, time travel,
rollback, vacuum.

The plain catalog's dynamic-partition overwrite (catalog.py) mutates
files in place — at 100 TB that is a correctness hazard: a reader
mid-scan of a partition being overwritten sees a torn layer, and a
failed overwrite leaves neither old nor new. The standard answer
(Iceberg/Delta-style, rebuilt here on plain Parquet + the Hadoop
FileSystem API, no table-format dependency):

- every write lands in a FRESH directory ``v{N}/`` — existing readers
  keep scanning the old files untouched;
- the write becomes visible via ONE atomic manifest rename
  (``*.tmp`` → ``v{N}.json``); a crashed write leaves only an orphan
  data dir and a ``.tmp`` file, never a half-visible layer;
- readers resolve latest = max committed manifest, or any historical
  version by number (time travel);
- rollback commits a NEW manifest pointing at the old version's data
  (history is append-only — a rollback is itself versioned);
- vacuum deletes data directories no manifest references, bounded by
  a keep-count — the only destructive op, explicitly invoked.

Reference tie-in: the reference's delete-before-write idempotence
(NDVILayerExample.scala:81-84, api/package.scala:67-88) is exactly the
non-atomic overwrite this replaces.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biggis_landuse_spark.catalog import (
    hadoop_path,
    read_json,
    write_json,
    zorder_key,
)


class VersionedLayerStore:
    """Versioned tile storage under ``{base}/{layer}/{zoom}/``:
    ``v{N}/part-*.parquet`` data dirs + ``_manifests/v{N}.json``."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")

    # -- paths -------------------------------------------------------------

    def _layer_base(self, layer: str, zoom: int) -> str:
        return f"{self.base}/{layer}/{zoom}"

    def _manifest_dir(self, layer: str, zoom: int) -> str:
        return f"{self._layer_base(layer, zoom)}/_manifests"

    def _fs(self, path: str):
        return hadoop_path(self.spark, path)

    # -- commit protocol ---------------------------------------------------

    def versions(self, layer: str, zoom: int) -> list[int]:
        """Committed version numbers, ascending (manifests only —
        orphan data dirs from crashed writes are invisible)."""
        fs, p = self._fs(self._manifest_dir(layer, zoom))
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _read_manifest(self, layer: str, zoom: int, version: int) -> dict:
        return read_json(
            self.spark, f"{self._manifest_dir(layer, zoom)}/v{version}.json"
        )

    def _commit(self, layer: str, zoom: int, version: int, manifest: dict) -> None:
        """Atomically publish a manifest (``write_json``: temp file,
        then rename). The rename fails if the version exists, so of two
        writers racing for one version exactly one commits; a crash
        before the rename leaves nothing visible."""
        path = f"{self._manifest_dir(layer, zoom)}/v{version}.json"
        if not write_json(self.spark, path, manifest, overwrite=False):
            raise RuntimeError(
                f"commit conflict: {layer}/{zoom} v{version} already exists"
            )

    # -- write / read ------------------------------------------------------

    def write(
        self,
        tiles: DataFrame,
        layer: str,
        zoom: int,
        target_files: int | None = None,
        extra: dict | None = None,
    ) -> int:
        """Write a new snapshot; returns its version number.

        Same physical layout contract as catalog.write_layer — range-
        partitioned on the Z-order key, sorted within files — but into
        a fresh uniquely-named ``v{N}-{uuid}`` directory, committed by
        manifest rename. The uuid suffix means two concurrent writers
        racing for the same version number write to DISJOINT dirs: the
        rename loser cannot have clobbered any of the winner's data
        files, and its orphan dir is removed on conflict. Readers
        always resolve the data path through the manifest, never by
        version-number convention.
        """
        vs = self.versions(layer, zoom)
        version = (vs[-1] + 1) if vs else 1
        data_dir = (
            f"{self._layer_base(layer, zoom)}/v{version}-{uuid.uuid4().hex[:8]}"
        )
        keyed = tiles.withColumn("_zk", zorder_key())
        sort_keys = ["ts", "_zk"] if "ts" in keyed.columns else ["_zk"]
        n_files = (
            target_files
            if target_files is not None
            else self.spark.sparkContext.defaultParallelism
        )
        (
            keyed.repartitionByRange(n_files, *sort_keys)
            .sortWithinPartitions(*sort_keys)
            .drop("_zk")
            .write.mode("overwrite")
            .parquet(data_dir)
        )
        manifest = {"version": version, "data": data_dir, "kind": "write"}
        manifest.update(extra or {})
        try:
            self._commit(layer, zoom, version, manifest)
        except RuntimeError:
            # lost the commit race: our data dir is unreferenced by any
            # manifest — remove it so it can't accumulate as an orphan
            fs, p = self._fs(data_dir)
            fs.delete(p, True)
            raise
        return version

    def read(
        self, layer: str, zoom: int, version: int | None = None
    ) -> DataFrame:
        """Latest snapshot, or time travel to ``version``."""
        vs = self.versions(layer, zoom)
        if not vs:
            raise KeyError(f"no committed versions for {layer}/{zoom}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise KeyError(f"{layer}/{zoom} has no version {v}")
        manifest = self._read_manifest(layer, zoom, v)
        return self.spark.read.parquet(manifest["data"])

    def rollback(self, layer: str, zoom: int, version: int) -> int:
        """Make ``version``'s data current again by committing a NEW
        manifest that points at it (append-only history; no data
        move)."""
        vs = self.versions(layer, zoom)
        if version not in vs:
            raise KeyError(f"{layer}/{zoom} has no version {version}")
        old = self._read_manifest(layer, zoom, version)
        new_version = vs[-1] + 1
        self._commit(
            layer,
            zoom,
            new_version,
            {
                "version": new_version,
                "data": old["data"],
                "kind": "rollback",
                "restores": version,
            },
        )
        return new_version

    def vacuum(self, layer: str, zoom: int, keep: int = 2) -> list[str]:
        """Delete data dirs referenced ONLY by manifests older than the
        newest ``keep`` versions (and those manifests). Data shared
        with a kept version (via rollback) survives. Returns deleted
        paths."""
        vs = self.versions(layer, zoom)
        kept, dropped = vs[-keep:], vs[:-keep]
        keep_dirs = {
            self._read_manifest(layer, zoom, v)["data"] for v in kept
        }
        deleted = []
        for v in dropped:
            m = self._read_manifest(layer, zoom, v)
            if m["data"] not in keep_dirs:
                fs, p = self._fs(m["data"])
                if fs.exists(p):
                    fs.delete(p, True)
                    deleted.append(m["data"])
            fs, mp = self._fs(
                f"{self._manifest_dir(layer, zoom)}/v{v}.json"
            )
            fs.delete(mp, False)
        return deleted

    def merge(
        self,
        update: DataFrame,
        layer: str,
        zoom: int,
        extra: dict | None = None,
    ) -> int:
        """Versioned layer merge: read latest, cell-coalesce the
        update in (catalog.merge_into_layer semantics), commit as a
        new snapshot — the read and the write never touch the same
        files, so no staging dir is needed (the staging discipline the
        unversioned catalog must enforce by hand)."""
        from biggis_landuse_spark.operators.local import tile_merge

        existing = self.read(layer, zoom).select(
            "tile_col", "tile_row", F.col("tile").alias("t_old")
        )
        upd = update.select(
            "tile_col", "tile_row", F.col("tile").alias("t_new")
        )
        merged = existing.join(
            upd, ["tile_col", "tile_row"], "full_outer"
        ).select(
            "tile_col",
            "tile_row",
            F.lit(None).cast("timestamp").alias("ts"),
            F.when(
                F.col("t_old").isNotNull() & F.col("t_new").isNotNull(),
                tile_merge(F.col("t_old"), F.col("t_new")),
            )
            .otherwise(F.coalesce("t_old", "t_new"))
            .alias("tile"),
        )
        return self.write(merged, layer, zoom, extra=extra)

    def diff(
        self, layer: str, zoom: int, v_from: int, v_to: int
    ) -> DataFrame:
        """Row-level snapshot diff: one row per tile key whose content
        changed between two committed versions, with change ∈
        {'added', 'removed', 'changed'}.

        Both snapshots reduce to (key, content-digest) projections
        before the FULL OUTER equi-join on the tile key — tile
        payloads never join, only 32-byte digests shuffle, so a diff
        of two 100 TB snapshots moves ~|tiles| × digest bytes.
        Unchanged keys are filtered in the join stage.
        """
        from pyspark.sql import functions as F

        key = ["tile_col", "tile_row"]

        def digested(version: int, out: str) -> DataFrame:
            df = self.read(layer, zoom, version)
            return df.select(
                *key, F.md5(F.to_json(F.struct("tile"))).alias(out)
            )

        j = digested(v_from, "h_from").join(
            digested(v_to, "h_to"), key, "full_outer"
        )
        change = (
            F.when(F.col("h_from").isNull(), F.lit("added"))
            .when(F.col("h_to").isNull(), F.lit("removed"))
            .when(F.col("h_from") != F.col("h_to"), F.lit("changed"))
        )
        return (
            j.withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(*key, "change")
        )
