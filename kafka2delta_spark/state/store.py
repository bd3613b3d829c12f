"""Table state storage.

The reference's sink is a Delta table (transaction log + parquet), created
on demand if absent (ref utils/utils.py:37-58) and mutated via MERGE. In
this environment the Delta jars are absent, so the engine abstracts the
sink behind a minimal store interface with two implementations:

  * ``DeltaStateStore`` — thin wrapper over delta-spark (gated import);
    mutation happens in-place via :func:`kafka2delta_spark.cdc.merge.apply_cdc_delta`;
    registration is the reference's own ``saveAsTable``.
  * ``ParquetStateStore`` — versioned-directory parquet store with an
    atomic current-version pointer (a one-file transaction log). Readers
    always see a complete snapshot; a crashed writer leaves a dangling
    versioned dir that is never referenced. Supports hive partitioning so
    downstream reads get partition pruning, like the reference's
    year/month layout (ref stream/test/stream_test.py:108-110).

Both apply a CDC change set with the same call,
``store.merge(changes_df, key_cols, lsn_col, deleted_col)``, which is one
commit: the store decides how to execute it (Delta MERGE in place, or a
partition-selective / full-snapshot parquet rewrite) and never hands the
decision back to the caller.

Both give read-your-writes within a driver; the parquet store is a
correctness-equivalent stand-in, not a concurrency story — on a real
cluster you'd use Delta/Iceberg.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka2delta_spark.config import TableConfig
from kafka2delta_spark.session import local_rows

#: characters the hive-style partition writer percent-escapes in directory
#: names (plus control chars). Values containing any of these — or booleans,
#: which Python stringifies as ``True`` where the writer emits ``true`` —
#: would make our computed ``<col>=<value>`` leaf name diverge from the
#: on-disk name, so the selective merge refuses them (full-rewrite fallback)
#: rather than risk double-counting a touched partition as untouched.
_HIVE_UNSAFE_CHARS = set(' "#%\'*/:=?\\{}[]^\x7f')


def _ensure_database(spark: SparkSession, table_name: str) -> None:
    """``CREATE DATABASE IF NOT EXISTS`` for a qualified ``db.table`` name."""
    if "." in table_name:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{table_name.split('.')[0]}`")


def _hive_dir_safe(value) -> bool:
    """True only when Python ``str(value)`` is byte-identical to the leaf
    directory name Spark would write for this partition value. That limits
    the selective-merge fast path to str / int / date partition columns:
    floats use Java's ``Double.toString`` ("1.0E7" where Python says
    "10000000.0"), so a float partition would make the hardlink loop treat
    a touched partition as untouched and keep both stale and merged files.
    """
    import datetime as _dt

    if isinstance(value, bool):
        return False
    if not isinstance(value, (str, int)) and not (
        isinstance(value, _dt.date) and not isinstance(value, _dt.datetime)
    ):
        return False
    s = str(value)
    return s != "" and all(
        ch not in _HIVE_UNSAFE_CHARS and ord(ch) >= 32 for ch in s
    )


class ParquetStateStore:
    """Versioned parquet state for one table.

    ``retain_versions`` controls how many committed snapshots are kept:
    older snapshots stay readable via ``read(version=...)`` (time travel,
    Delta's ``versionAsOf``) until they age out of the retention window —
    the parquet-store analogue of Delta's log retention + VACUUM."""

    VERSION_FILE = "_VERSION"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: list[str] | None = None,
        retain_versions: int = 2,
        table_name: str | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.partition_cols = list(partition_cols or [])
        self.retain_versions = max(1, retain_versions)
        self.table_name = table_name
        os.makedirs(path, exist_ok=True)

    # -- catalog registration ----------------------------------------------
    def _register(self) -> None:
        """Register/refresh ``schema.table`` in the session catalog as a view
        over the current snapshot (metastore parity with the reference's
        ``saveAsTable`` — ref utils/utils.py:37-58; its MERGE mutates one
        location in place, while this store commits versioned dirs, so the
        catalog entry is repointed per commit instead of created once).

        An empty snapshot (every row deleted from a partitioned store) has
        no data file to infer a schema from, so its view is a typed empty
        ``SELECT`` built from the stored ``_SCHEMA.json`` instead."""
        if not self.table_name:
            return
        cur = self._version()
        if cur is None:
            return
        _ensure_database(self.spark, self.table_name)
        d = self._dir(cur)
        if any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs):
            body = f"SELECT * FROM parquet.`{d}`"
        else:
            body = "SELECT {} WHERE false".format(", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in self.read().schema
            ))
        self.spark.sql(f"CREATE OR REPLACE VIEW {self.table_name} AS {body}")

    # -- version pointer ---------------------------------------------------
    def _version(self) -> int | None:
        vf = os.path.join(self.path, self.VERSION_FILE)
        if not os.path.exists(vf):
            return None
        with open(vf) as fh:
            return int(fh.read().strip())

    def _set_version(self, v: int) -> None:
        vf = os.path.join(self.path, self.VERSION_FILE)
        tmp = vf + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, vf)  # atomic on POSIX

    def _dir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v:08d}")

    # -- public API --------------------------------------------------------
    def exists(self) -> bool:
        return self._version() is not None

    def _write_schema(self, v: int, df: DataFrame) -> None:
        """Persist the snapshot schema beside the data (Delta keeps it in
        the transaction log). Lets ``read`` skip footer inference — and
        makes a legitimately EMPTY snapshot (every row deleted) readable,
        which schema inference on a fileless directory is not."""
        with open(os.path.join(self._dir(v), "_SCHEMA.json"), "w") as fh:
            fh.write(df.schema.json())

    def read(self, version: int | None = None) -> DataFrame | None:
        """Read the current snapshot, or a retained historical one
        (``version=``, Delta's ``versionAsOf`` time travel)."""
        cur = self._version()
        if cur is None:
            return None
        v = cur if version is None else version
        if not os.path.isdir(self._dir(v)):
            raise ValueError(
                f"version {v} not available (current {cur}, "
                f"retained {self.history()})"
            )
        schema_file = os.path.join(self._dir(v), "_SCHEMA.json")
        if os.path.exists(schema_file):
            with open(schema_file) as fh:
                schema = T.StructType.fromJson(json.loads(fh.read()))
            return self.spark.read.schema(schema).parquet(self._dir(v))
        return self.spark.read.parquet(self._dir(v))

    def history(self) -> list[int]:
        """Committed versions still on disk, oldest first. Dangling dirs
        from crashed writers (version > pointer) are not listed."""
        cur = self._version()
        if cur is None:
            return []
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= cur:
                out.append(int(name[1:]))
        return out

    def overwrite(self, df: DataFrame, metadata: dict | None = None) -> None:
        """Commit a new snapshot: write next version dir, flip the pointer
        atomically, then age out snapshots beyond the retention window.

        ``metadata`` rides in the SAME commit as the data (``_META.json``
        beside ``_SCHEMA.json``, visible only once the version pointer
        flips) — the parquet-store analogue of Delta's transactional writer
        metadata (``txnAppId``/``txnVersion``). foreachBatch sinks use it
        as an idempotency ledger: record the batch id with the snapshot,
        and a replayed batch (foreachBatch is at-least-once) is detected
        and skipped instead of double-applied."""
        v = (self._version() or 0) + 1
        writer = df.write.mode("overwrite")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(self._dir(v))
        self._commit(v, df, metadata)

    def _commit(
        self, v: int, df: DataFrame, metadata: dict | None = None
    ) -> None:
        """Commit tail shared by every write: schema (and metadata) beside
        the data, atomic pointer flip, catalog repoint, retention prune."""
        self._write_schema(v, df)
        if metadata is not None:
            with open(os.path.join(self._dir(v), "_META.json"), "w") as fh:
                json.dump(metadata, fh)
        self._set_version(v)
        self._register()
        for old in self.history()[: -self.retain_versions]:
            shutil.rmtree(self._dir(old), ignore_errors=True)

    def metadata(self, version: int | None = None) -> dict:
        """Commit metadata of the current (or a retained) snapshot; ``{}``
        when the version committed none. Atomic with the data: written
        before the pointer flip, so a reader never sees metadata for a
        half-written snapshot."""
        cur = self._version()
        if cur is None:
            return {}
        mf = os.path.join(self._dir(cur if version is None else version), "_META.json")
        if not os.path.exists(mf):
            return {}
        with open(mf) as fh:
            return json.load(fh)

    def merge(
        self,
        changes_df: DataFrame,
        key_cols: list[str],
        lsn_col: str,
        deleted_col: str,
    ) -> None:
        """Apply a deduped CDC change set as one commit.

        Partition-selective when possible: rewrite ONLY the hive partitions
        the change set touches; unchanged partitions are hardlinked into
        the new version dir (per-file ``os.link`` — zero copy, and snapshot
        retention still works because deleting an old version dir only
        drops its links). This is the parquet-store analogue of Delta
        MERGE's file pruning: per-micro-batch cost tracks touched
        partitions, not total state. Correctness relies on the same caveat
        the reference documents for putting partition columns in its MERGE
        ON clause: partition values must be derived from immutable columns,
        so a key's rows can only ever live in one partition.

        Otherwise — no state yet, unpartitioned store, a schema change vs
        the current snapshot (including change sets missing partition
        columns), or NULL / non-hive-encodable partition values (see
        :func:`_hive_dir_safe`) — the whole snapshot is merged with
        :func:`kafka2delta_spark.cdc.merge.merge_cdc_batch` (which also
        evolves the schema) and committed via :meth:`overwrite`. An empty
        change set on the selective path commits no version (no-op).
        """
        from kafka2delta_spark.cdc.merge import merge_cdc_batch

        state = self.read()
        parts = None
        if (
            state is not None
            and self.partition_cols
            and set(state.columns)
            == {c for c in changes_df.columns if c != deleted_col}
        ):
            # touched partition values: metadata-sized collect (same class
            # as topic/schema-pair discovery in the streaming layer)
            parts = changes_df.select(*self.partition_cols).distinct().collect()
            if not parts:
                return  # empty change set: the merge is a no-op
            if not all(
                _hive_dir_safe(r[c]) for r in parts for c in self.partition_cols
            ):
                parts = None
        if parts is None:
            self.overwrite(
                merge_cdc_batch(state, changes_df, key_cols, lsn_col, deleted_col)
            )
            return
        touched = functools.reduce(
            operator.or_,
            [
                functools.reduce(
                    operator.and_,
                    [F.col(c) == F.lit(r[c]) for c in self.partition_cols],
                )
                for r in parts
            ],
        )
        # partition-pruned read of only the touched slice of current state
        merged = merge_cdc_batch(
            state.filter(touched), changes_df, key_cols, lsn_col, deleted_col
        )
        cur = self._version()
        v = cur + 1
        dst = self._dir(v)
        writer = merged.write.mode("overwrite").partitionBy(*self.partition_cols)
        writer.parquet(dst)
        # hardlink every UNtouched leaf partition dir from the previous
        # version (touched-but-now-empty partitions must NOT be linked —
        # their rows were deleted)
        touched_rel = {
            "/".join(f"{c}={r[c]}" for c in self.partition_cols) for r in parts
        }
        src = self._dir(cur)
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            if rel == "." or not files:
                continue
            if not all("=" in seg for seg in rel.split(os.sep)):
                continue  # not a partition leaf (writer metadata dirs)
            if rel.replace(os.sep, "/") in touched_rel:
                continue
            out_dir = os.path.join(dst, rel)
            os.makedirs(out_dir, exist_ok=True)
            for f in files:
                link_path = os.path.join(out_dir, f)
                if not os.path.exists(link_path):
                    os.link(os.path.join(root, f), link_path)
        self._commit(v, merged)

    def read_changes(
        self, from_version: int, to_version: int, key_cols: list[str]
    ) -> DataFrame:
        """Row-level diff between two retained snapshots — the parquet
        store's analogue of Delta's Change Data Feed (``readChangeFeed``
        with ``startingVersion``/``endingVersion``): every row tagged
        ``_change_type`` ∈ insert / delete / update_preimage /
        update_postimage. Downstream incremental consumers (a second
        pipeline stage, a cache invalidator, an index maintainer) read
        the delta instead of re-scanning the snapshot.

        Computed as two key-anti-joins (insert/delete) plus one equi-join
        with a null-safe full-row comparison (updates emit pre+post
        image, Delta CDF's contract). Cost: one join keyed on the store's
        key columns — at scale with hive partitioning both sides prune to
        the touched partitions."""
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        val_cols = [c for c in new.columns if c not in key_cols]
        ct = "_change_type"
        inserts = new.join(old.select(*key_cols), key_cols, "left_anti").select(
            "*", F.lit("insert").alias(ct)
        )
        deletes = old.join(new.select(*key_cols), key_cols, "left_anti").select(
            "*", F.lit("delete").alias(ct)
        )
        o = old.alias("o")
        n = new.alias("n")
        changed = functools.reduce(
            operator.or_,
            [
                ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
                for c in val_cols
            ],
        )
        pairs = o.join(n, key_cols).filter(changed)
        pre = pairs.select(
            *key_cols,
            *[F.col(f"o.{c}").alias(c) for c in val_cols],
            F.lit("update_preimage").alias(ct),
        )
        post = pairs.select(
            *key_cols,
            *[F.col(f"n.{c}").alias(c) for c in val_cols],
            F.lit("update_postimage").alias(ct),
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def optimize(
        self, target_files: int = 1, cluster_by: list[str] | None = None
    ) -> None:
        """Compact the current snapshot into ``target_files`` files per
        partition (Delta ``OPTIMIZE`` parity). CDC merges commit one
        snapshot per micro-batch, so file counts track trigger cadence,
        not data size — compaction restores read efficiency. Committed as
        a normal version, so it is time-travel-visible and crash-safe.

        ``cluster_by`` range-partitions and sorts the data on the given
        columns (Delta ``OPTIMIZE ZORDER BY`` parity for the leading-column
        case): each output file then covers a disjoint key range, so
        parquet min/max footer stats let predicate scans skip whole files
        — the data-skipping layout that matters once a snapshot is
        terabytes. Multi-dimensional Z-order interleaving is intentionally
        not emulated; range-clustering is exact for the (overwhelmingly
        common) single leading filter column."""
        cur = self.read()
        if cur is None:
            return
        if cluster_by:
            out = cur.repartitionByRange(target_files, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            out = cur.coalesce(target_files)
        # compaction is content-neutral: carry the commit metadata (e.g.
        # the foreachBatch idempotency ledger) forward, or a replayed
        # batch after an OPTIMIZE would double-apply
        self.overwrite(out, metadata=self.metadata() or None)


class DeltaStateStore:
    """Delta-backed state for one table (requires delta-spark; gated import).

    Same interface as ParquetStateStore where semantics overlap: the Delta
    transaction log plays the version pointer's role (``read(version=...)``
    maps to ``versionAsOf`` time travel), mutation happens in place via
    :func:`kafka2delta_spark.cdc.merge.apply_cdc_delta` rather than
    snapshot replacement, and registration is the reference's own
    ``saveAsTable`` (ref utils/utils.py:37-58)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: list[str] | None = None,
        table_name: str | None = None,
    ) -> None:
        import delta  # noqa: F401 — fail fast when delta-spark is absent

        self.spark = spark
        self.path = path
        self.partition_cols = list(partition_cols or [])
        self.table_name = table_name
        # Schema evolution during MERGE (new source columns appended to the
        # target) — the reference enables the same conf in its harness
        # (ref stream/test/conftest.py:101).
        spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")

    def exists(self) -> bool:
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(self.spark, self.path)

    def read(self, version: int | None = None) -> DataFrame | None:
        if not self.exists():
            return None
        reader = self.spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        return reader.load(self.path)

    def create_if_not_exists(self, schema: T.StructType) -> None:
        """Reference-exact creation: empty typed snapshot + saveAsTable
        under ``schema.table`` (ref utils/utils.py:37-58).

        When Delta files already exist at ``path`` but the catalog entry is
        absent (fresh session with an in-memory catalog, or a dropped
        metastore entry), re-register the existing location instead of
        writing — ``saveAsTable`` over a non-empty Delta location would
        raise with the default ErrorIfExists mode."""
        if self.table_name and self.spark.catalog.tableExists(self.table_name):
            return
        if self.exists():
            if self.table_name:
                _ensure_database(self.spark, self.table_name)
                self.spark.sql(
                    f"CREATE TABLE IF NOT EXISTS {self.table_name} "
                    f"USING DELTA LOCATION '{self.path}'"
                )
            return
        writer = (
            self.spark.createDataFrame([], schema)
            .write.format("delta")
            .option("path", self.path)
        )
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        if self.table_name:
            _ensure_database(self.spark, self.table_name)
            writer.saveAsTable(self.table_name)
        else:
            writer.save(self.path)

    def merge(
        self,
        changes_df: DataFrame,
        key_cols: list[str],
        lsn_col: str,
        deleted_col: str,
    ) -> None:
        """Apply a deduped CDC change set as one in-place file-level MERGE
        (the reference's sink semantics, ref stream/stream.py:114-148):
        only files holding matched keys rewrite; schema evolution via Delta
        autoMerge. Creates the table from the change schema (minus the
        delete flag) on first use."""
        from kafka2delta_spark.cdc.merge import apply_cdc_delta

        self.create_if_not_exists(
            T.StructType([f for f in changes_df.schema if f.name != deleted_col])
        )
        apply_cdc_delta(
            self.spark, self.path, changes_df, key_cols, self.partition_cols,
            lsn_col, deleted_col,
        )


def create_table_if_not_exists(
    spark: SparkSession, schema: T.StructType, config: TableConfig
) -> ParquetStateStore:
    """Create an empty partitioned table if absent and register it in the
    session catalog under ``config.full_table_name``
    (ref utils/utils.py:37-58) so it is queryable by name.

    With delta-spark available use ``DeltaStateStore.create_if_not_exists``
    (the reference's exact ``saveAsTable`` path); here it initializes a
    ParquetStateStore with an empty snapshot so the first merge sees a
    typed (possibly empty) state, and the store repoints the catalog entry
    on every commit.
    """
    store = ParquetStateStore(
        spark, config.path, config.partition_cols, table_name=config.full_table_name
    )
    if spark.catalog.tableExists(config.full_table_name) and store.exists():
        return store
    if not store.exists():
        empty = local_rows(spark, [], schema)
        store.overwrite(empty)
    else:
        store._register()
    return store
