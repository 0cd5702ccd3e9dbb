"""VersionedStore: atomic, time-travelable parquet store — the Delta-style
sink (SURVEY.md §7 phase 4) without an external table format.

Plain ``df.write.parquet(path, mode=...)`` is not atomic to readers: a
failed overwrite leaves a half-written directory, and a concurrent reader
of an append sees a torn file listing. This store separates DATA from
VISIBILITY:

- every write lands in a fresh immutable directory ``data/v{N}/``;
- a version becomes visible only when its manifest ``_manifest/v{N}.json``
  appears, written via temp-file + rename (atomic on POSIX/HDFS);
- a manifest lists ALL data directories composing that version — an append
  is the previous list plus one dir (no data rewrite), an overwrite is a
  fresh single-dir list;
- readers resolve the latest manifest and read exactly its directories:
  crashes before the rename are invisible (a retry replaces the unlisted
  dir), and old versions stay readable (time travel) until vacuumed.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def incremental_rollup_update(
    rollup: DataFrame,
    feed: DataFrame,
    group_columns: list[str],
    sum_columns: dict[str, str] | None = None,
    count_column: str = "n",
) -> DataFrame:
    """Incremental materialized-view maintenance for additive aggregates:
    fold a change data feed (``VersionedStore.changes`` output, rows tagged
    ``_change_type`` insert/delete) into an existing count/sum rollup
    without rescanning the base table — work scales with the CHANGE volume,
    not the table size.

    ``sum_columns`` maps rollup column -> base column (e.g.
    ``{"sum_value": "value"}``). Counts go up/down by the signed row count;
    sums by the signed value. Groups whose count reaches zero drop out.
    Only additive aggregates qualify (count/sum; avg = sum/count computed
    at read time) — min/max need a rescan of the affected group."""
    sum_columns = sum_columns or {}
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    aggs = [F.sum(sign).alias(f"__d_{count_column}")] + [
        F.sum(sign * F.col(base)).alias(f"__d_{out}")
        for out, base in sum_columns.items()
    ]
    delta = feed.groupBy(*group_columns).agg(*aggs)
    merged = rollup.join(delta, group_columns, "full_outer")
    out_cols = [F.col(c) for c in group_columns]
    new_n = F.coalesce(F.col(count_column), F.lit(0)) + F.coalesce(
        F.col(f"__d_{count_column}"), F.lit(0)
    )
    out_cols.append(new_n.alias(count_column))
    for out in sum_columns:
        out_cols.append(
            (
                F.coalesce(F.col(out), F.lit(0.0))
                + F.coalesce(F.col(f"__d_{out}"), F.lit(0.0))
            ).alias(out)
        )
    return merged.select(*out_cols).filter(F.col(count_column) > 0)


class VersionedStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._manifest_dir = os.path.join(path, "_manifest")
        self._data_dir = os.path.join(path, "data")
        # the Hadoop FileSystem of ``path``: local, ``file:`` and HDFS alike
        self._hpath = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    # -- manifest plumbing -------------------------------------------------

    def _manifest_path(self, version: int):
        return self._hpath(os.path.join(self._manifest_dir, f"v{version:010d}.json"))

    def _delete(self, path: str) -> None:
        self._fs.delete(self._hpath(path), True)

    def versions(self) -> list[int]:
        pattern = self._hpath(os.path.join(self._manifest_dir, "v*.json"))
        found = self._fs.globStatus(pattern) or []
        return sorted(int(st.getPath().getName()[1:-5]) for st in found)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        io_utils = self.spark._jvm.org.apache.hadoop.io.IOUtils
        stream = self._fs.open(self._manifest_path(version))
        try:
            return json.loads(bytes(io_utils.readFullyToByteArray(stream)))
        finally:
            stream.close()

    def _snapshot(self, version: int | None = None):
        """(data dirs, schema) of ``version`` (default latest); None when
        the store is empty."""
        version = self.latest_version() if version is None else version
        if version is None:
            return None
        manifest = self._manifest(version)
        raw = manifest.get("schema")
        return manifest["data_dirs"], T.StructType.fromJson(raw) if raw else None

    def _commit(self, version: int, data_dirs: list[str], operation: str,
                schema: "T.StructType") -> None:
        payload = json.dumps({"version": version, "data_dirs": data_dirs,
                              "operation": operation, "schema": schema.jsonValue()})
        tmp = self._hpath(os.path.join(self._manifest_dir, f".v{version:010d}.tmp"))
        out = self._fs.create(tmp, True)
        try:
            out.write(payload.encode("utf-8"))
        finally:
            out.close()
        # rename is the atomic visibility switch
        if not self._fs.rename(tmp, self._manifest_path(version)):
            raise OSError(f"could not publish version {version} of {self.path}")

    def _publish(self, df: DataFrame | None, keep_dirs: list[str],
                 operation: str, schema: "T.StructType",
                 partition_by: str | None = None) -> int:
        """The one commit protocol: write ``df`` once into a fresh
        ``data/v{N}/``, then commit version N listing ``keep_dirs`` plus the
        new dir (under ``partition_by``: its partition dirs). An existing
        ``data/v{N}/`` is the leftover of a crash before the rename — no
        manifest lists it — and is replaced. ``df=None`` commits
        ``keep_dirs`` alone. Returns N."""
        latest = self.latest_version()
        version = 0 if latest is None else latest + 1
        dirs = list(keep_dirs)
        if df is not None:
            new_dir = os.path.join(self._data_dir, f"v{version:010d}")
            self._delete(new_dir)
            if partition_by is None:
                df.write.parquet(new_dir)
                dirs.append(new_dir)
            else:
                df.write.partitionBy(partition_by).parquet(new_dir)
                dirs += sorted(
                    os.path.join(new_dir, st.getPath().getName())
                    for st in self._fs.listStatus(self._hpath(new_dir))
                    if st.isDirectory()
                )
        self._commit(version, dirs, operation, schema)
        return version

    # -- writes ------------------------------------------------------------

    def _evolve_schema(
        self, prev: "T.StructType | None", df: DataFrame, merge_schema: bool
    ) -> "T.StructType":
        """Target schema for an append: identical columns pass through;
        with ``merge_schema`` new columns are appended to the store schema
        (pre-evolution files read back null-filled); dropped columns are
        written as typed nulls. Type conflicts always raise — silent
        coercion corrupts historized data."""
        if prev is None:
            return df.schema
        prev_types = {f.name: f.dataType for f in prev.fields}
        for f in df.schema.fields:
            if f.name in prev_types and f.dataType != prev_types[f.name]:
                raise ValueError(
                    f"type conflict on column '{f.name}': "
                    f"store {prev_types[f.name]} vs incoming {f.dataType}"
                )
        extra = [f for f in df.schema.fields if f.name not in prev_types]
        missing = [f.name for f in prev.fields if f.name not in df.columns]
        if (extra or missing) and not merge_schema:
            raise ValueError(
                f"schema mismatch (new: {[f.name for f in extra]}, "
                f"missing: {missing}); pass merge_schema=True to evolve"
            )
        return T.StructType(
            list(prev.fields) + [T.StructField(f.name, f.dataType, True) for f in extra]
        )

    @staticmethod
    def _align(df: DataFrame, target: "T.StructType") -> DataFrame:
        return df.select(
            *[
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.fields
            ]
        )

    def write(
        self, df: DataFrame, mode: str = "append", merge_schema: bool = False
    ) -> int:
        """Commit a new version; returns its number. ``overwrite`` replaces
        the visible content, ``append`` adds to it — both without touching
        any previously committed data file. ``merge_schema=True`` lets an
        append add new columns (Delta-style evolution): the manifest schema
        widens and older files read back with nulls in the new columns."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode: {mode}")
        snap = self._snapshot() if mode == "append" else None
        if snap is None:
            return self._publish(df, [], mode, df.schema)
        target = self._evolve_schema(snap[1], df, merge_schema)
        return self._publish(self._align(df, target), snap[0], mode, target)

    def _affected_dirs(self, cur: DataFrame, dirs: list[str],
                       match: DataFrame | None, condition=None,
                       key_columns: list[str] | None = None) -> list[str]:
        """The ``dirs`` of the current version that contain at least one row
        matched by ``condition`` or by a key semi-join against ``match``.
        The distinct file list is tiny relative to the data (one entry per
        parquet file), so collecting it on the driver is safe at any scale.
        Dirs and files compare as absolute paths (``file:`` URIs included)."""
        probe = cur.withColumn("__file", F.input_file_name())
        if condition is not None:
            probe = probe.filter(condition)
        if match is not None:
            probe = probe.join(
                match.select(*key_columns).distinct(), key_columns, "left_semi"
            )
        files = [r["__file"] for r in probe.select("__file").distinct().collect()]
        found = {os.path.dirname(unquote(urlparse(f).path)) for f in files}
        return [
            d for d in dirs
            if self._fs.makeQualified(self._hpath(d)).toUri().getPath() in found
        ]

    def merge(self, source: DataFrame, key_columns: list[str]) -> int:
        """Delta-style MERGE (upsert) with directory-granular copy-on-write:
        matched keys take the source row, unmatched store rows survive, new
        keys insert. Only data dirs that actually contain a matched key are
        rewritten — untouched dirs carry over into the new manifest by
        reference, so merge cost scales with the touched fraction, not the
        table size. Source must not carry duplicate keys (last-writer
        ambiguity); callers dedup first."""
        snap = self._snapshot()
        if snap is None:
            return self.write(source, mode="overwrite")
        dirs, schema = snap
        cur = self._read_dirs(dirs, schema)
        source = self._align(
            source, self._evolve_schema(cur.schema, source, merge_schema=False)
        )
        affected = self._affected_dirs(cur, dirs, source, key_columns=key_columns)
        if affected:
            # read rewrite candidates with the MANIFEST schema: dirs written
            # before a schema evolution lack the newer columns
            survivors = self._read_dirs(affected, cur.schema).join(
                source.select(*key_columns).distinct(), key_columns, "left_anti"
            )
            source = survivors.unionByName(source)
        keep_dirs = [d for d in dirs if d not in affected]
        return self._publish(source, keep_dirs, "merge", cur.schema)

    def delete_where(self, condition) -> int:
        """Delete rows matching ``condition`` (a Column), copy-on-write at
        directory granularity: only dirs containing a matching row are
        rewritten without those rows; the rest carry over by reference."""
        snap = self._snapshot()
        if snap is None:
            raise ValueError("delete_where on an empty store")
        dirs, schema = snap
        cur = self._read_dirs(dirs, schema)
        affected = self._affected_dirs(cur, dirs, None, condition=condition)
        survivors = (
            self._read_dirs(affected, cur.schema).filter(~condition)
            if affected else None
        )
        keep_dirs = [d for d in dirs if d not in affected]
        return self._publish(survivors, keep_dirs, "delete", cur.schema)

    # -- reads -------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame | None:
        """Latest committed state, or any historical version (time travel)."""
        snap = self._snapshot(version)
        return None if snap is None else self._read_dirs(*snap)

    def _read_dirs(self, dirs: list[str], schema: "T.StructType | None"
                   ) -> DataFrame:
        """``dirs`` read with the manifest schema: files written before an
        evolution lack the newer columns and read back null-filled."""
        if not dirs:
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read
        return (reader if schema is None else reader.schema(schema)).parquet(*dirs)

    def changes(self, since_version: int, to_version: int | None = None
                ) -> DataFrame:
        """Change data feed: rows that differ between ``since_version`` and
        ``to_version`` (default latest), tagged ``_change_type``
        'insert'/'delete' (an update surfaces as a delete+insert pair).

        Fast path: when every dir of the old version is still referenced by
        the new one (pure appends), the feed reads ONLY the added dirs — no
        scan of pre-existing data. Otherwise (merge/delete/overwrite in
        between) it falls back to a distributed multiset diff (exceptAll),
        which is exact but scans both snapshots."""
        old_dirs, old_schema = self._snapshot(since_version)
        new_dirs, new_schema = self._snapshot(to_version)
        if all(d in new_dirs for d in old_dirs):
            added = [d for d in new_dirs if d not in old_dirs]
            return self._read_dirs(added, new_schema).withColumn(
                "_change_type", F.lit("insert")
            )
        old = self._read_dirs(old_dirs, old_schema)
        new = self._read_dirs(new_dirs, new_schema)
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def optimize(self, target_partitions: int | None = None) -> int:
        """Compaction: rewrite the current version's (possibly many small)
        data dirs into one dir with ``target_partitions`` files, committed
        as a new version — readers of old versions are untouched, and
        ``vacuum`` later reclaims the small files. This is the antidote to
        the small-file problem a long-lived append stream creates: N
        micro-batch commits = N dirs until an optimize folds them."""
        cur = self.read()
        if cur is None:
            raise ValueError("optimize on an empty store")
        if target_partitions is not None:
            cur = cur.repartition(target_partitions)
        return self._publish(cur, [], "optimize", cur.schema)

    # -- maintenance -------------------------------------------------------

    def vacuum(self, keep_latest: int = 1) -> list[int]:
        """Drop manifests (and data dirs referenced by no surviving version)
        older than the ``keep_latest`` most recent. Returns removed versions.
        A partition dir takes its version dir along once no survivor lists
        anything under that version dir."""
        vs = self.versions()
        doomed = vs[:-keep_latest] if keep_latest > 0 else vs
        survivors = vs[-keep_latest:] if keep_latest > 0 else []
        still_referenced: set[str] = set()
        for v in survivors:
            still_referenced.update(self._manifest(v)["data_dirs"])
        for v in doomed:
            for d in self._manifest(v)["data_dirs"]:
                if d in still_referenced:
                    continue
                parent = os.path.dirname(d)
                shared = any(r.startswith(parent + "/") for r in still_referenced)
                self._delete(d if parent == self._data_dir or shared else parent)
            self._fs.delete(self._manifest_path(v), False)
        return doomed
