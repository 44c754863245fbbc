"""Snapshot-versioned tile storage: the one store every layer write,
read and merge goes through (``LayerCatalog`` keeps its tiles here).

An in-place overwrite mutates files under a running reader — at 100 TB
that is a correctness hazard: a reader mid-scan of a layer being
overwritten sees a torn layer, and a failed overwrite leaves neither
old nor new. The standard answer (the Delta Lake / Iceberg model,
rebuilt here on plain Parquet + the Hadoop FileSystem API, no
table-format dependency):

- every write lands in a FRESH directory ``v{N}-{uuid}/`` — existing
  readers keep scanning the old files untouched;
- the write becomes visible via ONE atomic manifest rename
  (``*.tmp`` → ``v{N}.json``); a crashed write leaves only an orphan
  data dir and a ``.tmp`` file, never a half-visible layer; of two
  writers racing for one version, the loser gets a commit conflict;
- the manifest records the schema its files carry, so a read builds
  with no Spark job (no schema inference, no partition discovery);
- readers resolve latest = max committed manifest, or any historical
  version by number (time travel);
- rollback commits a NEW manifest pointing at the old version's data
  (history is append-only — a rollback is itself versioned);
- vacuum deletes data directories no manifest references, bounded by
  a keep-count — the only destructive op, explicitly invoked; a
  superseded snapshot stays on disk until then.

The write owns the physical layout contract: range-partitioned on
(ts, SFC key) into disjoint sorted key ranges, one per file, so
Parquet min/max stats prune time and space ranges — the role of the
reference's Z-curve / Hilbert key index (api/package.scala:143-164).

Reference tie-in: the reference's delete-before-write idempotence
(NDVILayerExample.scala:81-84, api/package.scala:67-88) is exactly the
non-atomic overwrite this replaces.
"""

from __future__ import annotations

import json
import uuid
from urllib.parse import quote

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

Z_BITS = 16


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop FileSystem
    API, so every op works on any supported scheme (local FS, HDFS,
    S3A), not just os.path-reachable local paths."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_json(
    spark: SparkSession, path: str, record, overwrite: bool = True
) -> bool:
    """Publish ``record`` as the JSON file ``path`` atomically: write a
    uniquely named ``*.tmp`` file beside it, then rename. With
    ``overwrite`` the rename replaces an existing file
    (``FileContext.rename`` with ``Options.Rename.OVERWRITE``);
    without it the rename fails when ``path`` exists, and this removes
    the temp file and returns False. A crash before the rename leaves
    only a ``*.tmp`` file, which readers never list."""
    jvm = spark._jvm
    fs, final = hadoop_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(record).encode("utf-8")))
    finally:
        out.close()
    if overwrite:
        rename = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(rename, 1)
        opts[0] = rename.OVERWRITE
        jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            final.toUri(), spark._jsc.hadoopConfiguration()
        ).rename(tmp, final, opts)
        return True
    if fs.rename(tmp, final):
        return True
    fs.delete(tmp, False)
    return False


def read_json(spark: SparkSession, path: str):
    """The record ``write_json`` published at ``path``, or None."""
    fs, p = hadoop_path(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        missing = "java.io.FileNotFoundException"
        if e.java_exception.getClass().getName() != missing:
            raise
        return None
    try:
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _enc(name: str) -> str:
    """Reversible file-name form of a layer or attribute name ('.'
    too, so no name becomes '.', '..' or a hidden file)."""
    return quote(name, safe="").replace(".", "%2E")


def zorder_key(col: str = "tile_col", row: str = "tile_row") -> F.Column:
    """Morton (Z-curve) interleave of two 16-bit keys (O2, SFC write
    order) — a pure column expression, codegen'd; no custom Catalyst
    work (SURVEY.md §4.1)."""
    terms = " + ".join(
        f"(shiftleft(CAST((shiftright({col}, {i}) & 1) AS BIGINT), {2 * i}) + "
        f"shiftleft(CAST((shiftright({row}, {i}) & 1) AS BIGINT), {2 * i + 1}))"
        for i in range(Z_BITS)
    )
    return F.expr(terms)


def with_hilbert_key(
    df: DataFrame,
    col: str = "tile_col",
    row: str = "tile_row",
    out: str = "_hk",
    bits: int = Z_BITS,
) -> DataFrame:
    """Append the Hilbert-curve index of (col, row) on a 2^bits grid —
    the reference's `HilbertKeyIndexMethod` key order
    (api/package.scala:152-164); `zorder_key` is the engine's default
    (documented-equivalent range pruning), this is the exact-parity
    alternative.

    The classic quadrant-recursive descent (MSB → LSB: consume the top
    bit of each axis, reduce into the quadrant, reflect+transpose on
    the lower two quadrants) expressed as ONE STAGED PROJECTION PER
    BIT LEVEL. The state (x, y) feeds the next level through several
    references, so a single closed-form expression would grow 4^bits
    nodes; per-level projections keep the plan linear in `bits` and
    each stage inside whole-stage codegen. Hilbert beats Z-order on
    range-query locality (no long diagonal jumps) at the same write
    cost.
    """
    x, y = "_hx", "_hy"
    df = (
        df.withColumn(x, F.col(col).cast("long"))
        .withColumn(y, F.col(row).cast("long"))
        .withColumn(out, F.lit(0).cast("long"))
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        df = (
            df.withColumn("_rx", F.expr(f"CAST(({x} & {s}) > 0 AS BIGINT)"))
            .withColumn("_ry", F.expr(f"CAST(({y} & {s}) > 0 AS BIGINT)"))
            .withColumn(
                out,
                F.expr(
                    f"{out} + CAST({s} AS BIGINT) * {s}"
                    f" * ((3 * _rx) ^ _ry)"
                ),
            )
            # reduce into the quadrant, then reflect+transpose the
            # lower-left (rx=0,ry=0) and lower-right (rx=1,ry=0) cases
            .withColumn("_qx", F.expr(f"{x} & {s - 1}"))
            .withColumn("_qy", F.expr(f"{y} & {s - 1}"))
            .withColumn(
                x,
                F.expr(
                    f"CASE WHEN _ry = 0 THEN"
                    f" (CASE WHEN _rx = 1 THEN {s - 1} - _qy ELSE _qy END)"
                    f" ELSE _qx END"
                ),
            )
            .withColumn(
                y,
                F.expr(
                    f"CASE WHEN _ry = 0 THEN"
                    f" (CASE WHEN _rx = 1 THEN {s - 1} - _qx ELSE _qx END)"
                    f" ELSE _qy END"
                ),
            )
        )
    return df.drop("_hx", "_hy", "_rx", "_ry", "_qx", "_qy")


class VersionedLayerStore:
    """Versioned tile storage under ``{base}/{layer}/{zoom}/``:
    ``v{N}-{uuid}/part-*.parquet`` data dirs + ``_manifests/v{N}.json``
    (layer names percent-encoded, so any string round-trips)."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")

    # -- paths -------------------------------------------------------------

    def _layer_base(self, layer: str, zoom: int | None = None) -> str:
        """The (layer, zoom) store dir, or the layer's with no zoom."""
        path = f"{self.base}/{_enc(layer)}"
        return path if zoom is None else f"{path}/{zoom}"

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

    def manifest(
        self, layer: str, zoom: int, version: int | None = None
    ) -> dict:
        """The latest committed manifest, or ``version``'s."""
        vs = self.versions(layer, zoom)
        if not vs:
            raise KeyError(f"no committed versions for {layer}/{zoom}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise KeyError(f"{layer}/{zoom} has no version {v}")
        return self._read_manifest(layer, zoom, v)

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
        index_method: str = "zorder",
    ) -> int:
        """Write a new snapshot; returns its version number.

        The layout contract: space-time layers (a ``ts`` column,
        SpaceTimeKey analog) sort time-major, then by the SFC key
        within each instant; spatial-only layers by the SFC key alone.
        ``index_method`` picks the key: "zorder" (default, Morton
        interleave) or "hilbert" (the reference's HilbertKeyIndexMethod
        order, api/package.scala:152; the keys are internal sort keys,
        so value parity with its index is not claimed). The write
        range-partitions on those keys into ``target_files`` files
        (default ``defaultParallelism``) and sorts within each: every
        task writes a disjoint sorted key range, so the write
        parallelizes (a single-task funnel at 100 TB otherwise) and
        file and row-group min/max stats stay non-overlapping, which is
        what lets range reads prune files.

        The files land in a fresh ``v{N}-{uuid}`` directory, committed
        by manifest rename: writers racing for one version write to
        disjoint directories, and the loser removes its own. Readers
        resolve the data path through the manifest only.
        """
        from pyspark import StorageLevel

        if index_method == "hilbert":
            keyed = with_hilbert_key(tiles, out="_zk")
        elif index_method == "zorder":
            keyed = tiles.withColumn("_zk", zorder_key())
        else:
            raise ValueError(
                f"index_method must be 'zorder' or 'hilbert', got "
                f"{index_method!r}"
            )
        vs = self.versions(layer, zoom)
        version = (vs[-1] + 1) if vs else 1
        data_dir = (
            f"{self._layer_base(layer, zoom)}/v{version}-{uuid.uuid4().hex[:8]}"
        )
        sort_keys = ["ts", "_zk"] if "ts" in keyed.columns else ["_zk"]
        n_files = (
            target_files
            if target_files is not None
            else self.spark.sparkContext.defaultParallelism
        )
        # repartitionByRange samples its input before the write pass,
        # so an unmaterialized input runs its upstream plan twice (for
        # the lazy scene-ingest chain, most of the ingest's wall time).
        # Persist spills to local disk past memory: one local IO pass
        # instead of a recompute.
        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            (
                keyed.repartitionByRange(n_files, *sort_keys)
                .sortWithinPartitions(*sort_keys)
                .drop("_zk")
                .write.mode("overwrite")
                .parquet(data_dir)
            )
        finally:
            keyed.unpersist()
        manifest = {
            "version": version,
            "data": data_dir,
            "kind": "write",
            "schema": tiles.schema.json(),
        }
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
        """Latest snapshot, or time travel to ``version``. The
        manifest's schema is handed to the reader, so this runs no
        Spark job; the frame keeps reading its snapshot after later
        commits."""
        m = self.manifest(layer, zoom, version)
        reader = self.spark.read
        if m.get("schema"):  # (manifests from before it carry none)
            reader = reader.schema(
                T.StructType.fromJson(json.loads(m["schema"]))
            )
        return reader.parquet(m["data"])

    def rollback(self, layer: str, zoom: int, version: int) -> int:
        """Make ``version``'s data current again by committing a NEW
        manifest that points at it (append-only history; no data
        move)."""
        vs = self.versions(layer, zoom)
        if version not in vs:
            raise KeyError(f"{layer}/{zoom} has no version {version}")
        old = self._read_manifest(layer, zoom, version)
        new_version = vs[-1] + 1
        self._commit(layer, zoom, new_version, {
            "version": new_version,
            "data": old["data"],
            "schema": old.get("schema"),
            "kind": "rollback",
            "restores": version,
        })
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
        """Merge an update into the latest snapshot and commit the
        result as a new one: full-outer join on the tile key,
        cell-level coalesce(existing, update) — Delta MERGE semantics
        (reference: mergeRddIntoLayer, api/package.scala:328-385). The
        read and the write never touch the same files, so no staging
        dir is needed."""
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
