"""IceTable — snapshot-versioned Parquet tables with Iceberg semantics.

API surface ↔ reference mapping (SURVEY.md §2A):
  create/create_as      A4   (STORED BY ICEBERG ... AS SELECT, README.md:75-78)
  adopt                 A5   (in-place migration, README.md:92-93)
  append/insert_values  A6-A8 (INSERT INTO ..., static/dynamic partition)
  merge                 A9   (MERGE INTO, sql/update_iceberg_v2_examples.sql:14-18)
  delete                A10  (DELETE FROM, interoperability.md:128)
  truncate              A11  (TRUNCATE TABLE, README.md:320)
  read(as_of/snapshot)  A20  (FOR SYSTEM_TIME AS OF, README.md:113-117)
  rollback              A21  (EXECUTE rollback, README.md:122-123)
  set_partition_spec    A22  (SET PARTITION SPEC, README.md:138-139)
  transform specs       A23  (PARTITIONED BY SPEC (year(ts)), README.md:204-208)
  scan (pruned)         A25/A26 (README.md:214-290)
  expire_snapshots      A27  (EXECUTE expire_snapshots, README.md:364-381)
  properties            A28  (README.md:314-317)
  rewrite_data_files    A29  (CALL system.rewrite_data_files, README.md:403)
  rewrite_manifests     A30  (CALL system.rewrite_manifests, README.md:409)
  history               A31  (SELECT * FROM tbl.history, README.md:353-362)
  add_column            A35  (ADD COLUMN + mixed-file reads, limitations.md:6-10)

Scale posture: all data movement is Spark jobs over DataFrames —
the driver only touches footers (stats) and the JSON metadata log.
Copy-on-write DML rewrites *only the affected files*, discovered with
a `_metadata.file_path` semi-join, never the whole table.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
import uuid
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.icetbl import meta as M
from iceberg_workshop_spark.icetbl.pruning import Pred, prune_files
from iceberg_workshop_spark.icetbl.stats import file_stats

SpecField = dict[str, str]  # {"name": ..., "source": ..., "transform": ...}


def spec_field(source: str, transform: str = "identity", name: str | None = None) -> SpecField:
    return {
        "source": source,
        "transform": transform,
        "name": name or (source if transform == "identity" else f"{source}_{transform}"),
    }


class IceTable:
    def __init__(self, spark: SparkSession, meta: M.TableMeta) -> None:
        self.spark = spark
        self.meta = meta
        self.last_scan_report: dict[str, Any] | None = None
        # Commit-point seam. By default the table IS its own arbiter:
        # the commit point is the filesystem's atomic v<N+1>.json claim
        # (meta.commit) and refresh re-reads the hint/probe path. A
        # catalog-attached handle (restcat.attach_writer) reroutes BOTH
        # through the catalog, which then arbitrates concurrent writers
        # exactly like the reference's REST catalog arbitrates Spark/
        # Hive/Impala (reference docker-compose.yml:24-44) — data and
        # metadata documents still land in storage from the writer; only
        # the version swap is centralized.
        self._committer: Any = M.commit
        self._refresher: Any = None

    def set_commit_arbiter(self, committer, refresher) -> None:
        """Route this handle's commit point through an external catalog.

        ``committer(meta) -> TableMeta`` must atomically claim the next
        version or raise ``meta.CommitConflict``; ``refresher() ->
        TableMeta`` must return the current committed metadata. Every
        optimistic-retry loop in this class (``_retry_commit``,
        ``_commit_snapshot``, ``_commit_snapshot_delta``) then rebases
        through the arbiter, so two writers attached to the same
        catalog both land without manual retry while conflicting
        schema changes still raise."""
        self._committer = committer
        self._refresher = refresher

    def _commit_meta(self) -> M.TableMeta:
        return self._committer(self.meta)

    def _refresh_meta(self) -> M.TableMeta:
        if self._refresher is not None:
            return self._refresher()
        return M.read_current(self.meta.location)

    # ------------------------------------------------------------- DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema_ddl: str,
        partition_spec: list[SpecField] | None = None,
    ) -> "IceTable":
        os.makedirs(os.path.join(location, M.DATA_DIR), exist_ok=True)
        meta = M.TableMeta.empty(location, schema_ddl, partition_spec or [])
        meta.doc["history_log"] = []
        return cls(spark, M.commit(meta))

    @classmethod
    def create_as(
        cls,
        spark: SparkSession,
        location: str,
        df: DataFrame,
        partition_spec: list[SpecField] | None = None,
    ) -> "IceTable":
        """CTAS (A4): schema inherited from the query result."""
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        tbl = cls.create(spark, location, ddl, partition_spec)
        tbl.append(df)
        return tbl

    @classmethod
    def load(
        cls, spark: SparkSession, location: str, version: int | None = None
    ) -> "IceTable":
        """Open a table at its current version, or pinned at a specific
        metadata version (A34 — the reference reads a table by full
        metadata-file path when the hint is absent or a historical
        state is wanted, interoperability.md:95-112). A pinned handle
        is a frozen view: reads see that version's snapshot/schema;
        committing from it will conflict unless it is the latest."""
        meta = (
            M.read_current(location)
            if version is None
            else M.read_version(location, version)
        )
        return cls(spark, meta)

    @classmethod
    def load_metadata(cls, spark: SparkSession, metadata_file: str) -> "IceTable":
        """Open a table by FULL metadata-file path — the native analog
        of ``spark.read.format("iceberg").load(".../N.metadata.json")``
        (interoperability.md:103): no version-hint lookup at all."""
        return cls(spark, M.read_metadata_file(metadata_file))

    @staticmethod
    def drop(location: str) -> None:
        if os.path.exists(location):
            shutil.rmtree(location)

    @classmethod
    def adopt(
        cls,
        spark: SparkSession,
        location: str,
        parquet_paths: list[str],
        collect_stats: bool = False,
    ) -> "IceTable":
        """In-place migration (A5): register existing parquet files as
        snapshot 0 **without rewriting them**. By default no bounds are
        collected — reproducing the reference's observed behavior that
        migrated files lack manifest stats and therefore never prune
        (/root/reference/limitations.md:39-73)."""
        sample = spark.read.parquet(parquet_paths[0])
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in sample.schema.fields)
        tbl = cls.create(spark, location, ddl, [])
        files = []
        for p in parquet_paths:
            n, bounds = file_stats(p)
            files.append(
                {
                    "path": os.path.abspath(p),
                    "record_count": n,
                    "file_size": os.path.getsize(p),
                    "partition": {},
                    "spec_id": 0,
                    "bounds": bounds if collect_stats else {},
                }
            )
        tbl._commit_snapshot_delta(files, [], "adopt", rebase="blind")
        return tbl

    def add_column(self, name: str, type_ddl: str) -> None:
        """Schema evolution (A35): old files simply lack the column and
        read as NULL because every scan passes the table schema
        explicitly (replay of /root/reference/limitations.md:6-10).

        Column IDENTITY is tracked by creation sequence: files written
        before the column existed never contribute values to it — so a
        DROP followed by re-ADD of the same name yields a logically new
        column (NULL from pre-drop files), matching Iceberg field-id
        semantics instead of Hive name-mapping resurrection."""
        def mutate(meta: M.TableMeta) -> None:
            meta.schema_ddl = f"{meta.schema_ddl}, {name} {type_ddl}"
            meta.doc.setdefault("column_created_seq", {})[name] = int(
                meta.properties.get("last-sequence-number", "0")
            )

        self._retry_commit(mutate)

    def drop_column(self, name: str) -> None:
        """Schema evolution, drop side: metadata-only — existing files
        keep the physical column, but every read passes the table
        schema explicitly, so the dropped column simply stops being
        projected (Iceberg's DROP COLUMN semantics without a rewrite).
        Stored bounds for the column become inert; pruning ignores
        absent interval columns."""
        from pyspark.sql.types import StructType

        def mutate(meta: M.TableMeta) -> None:
            fields = StructType.fromDDL(meta.schema_ddl).fields
            if name not in {f.name for f in fields}:
                raise KeyError(f"column {name!r} not in schema")
            if len(fields) == 1:
                # Iceberg refuses too: an empty schema is unreadable
                # (and a later add_column would emit malformed DDL).
                raise ValueError("cannot drop the last column")
            meta.schema_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in fields if f.name != name
            )
            meta.doc.setdefault("column_created_seq", {}).pop(name, None)

        self._retry_commit(mutate)

    _WIDENINGS = {
        ("int", "bigint"),
        ("float", "double"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("int", "double"),  # not Iceberg-legal; rejected below, listed for clarity
    } - {("int", "double")}

    def update_column_type(self, name: str, new_type: str) -> None:
        """Schema evolution, type widening (Iceberg's ALTER COLUMN ...
        TYPE ...): metadata-only — files written before the change
        keep their narrow physical type and every read casts them up
        per era (no rewrite). Only Iceberg's safe promotions are
        allowed (int→bigint, float→double, and the smaller integer
        widths); anything lossy is rejected."""
        from pyspark.sql.types import StructType

        new_type = new_type.strip().lower()
        cur = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromDDL(self.meta.schema_ddl).fields
        }
        if name not in cur:
            raise KeyError(f"no such column: {name}")
        if cur[name] == new_type:  # fast path: nothing to commit
            return

        def mutate(meta: M.TableMeta) -> None:
            # Old-type lookup and legality check live INSIDE the retry
            # closure: on a commit-conflict retry the column may have
            # been altered by a concurrent writer, so each attempt must
            # re-derive them from the metadata it is handed (a stale
            # pre-validation would record the wrong era physical type
            # in column_type_history).
            fields = {
                f.name: f.dataType.simpleString()
                for f in StructType.fromDDL(meta.schema_ddl).fields
            }
            if name not in fields:
                raise KeyError(f"no such column: {name}")
            old_type = fields[name]
            if old_type == new_type:
                return
            if (old_type, new_type) not in self._WIDENINGS:
                raise ValueError(
                    f"illegal type change {old_type} -> {new_type}: only "
                    "widening promotions are metadata-safe"
                )
            fs = [
                (f.name, new_type if f.name == name else f.dataType.simpleString())
                for f in StructType.fromDDL(meta.schema_ddl).fields
            ]
            meta.schema_ddl = ", ".join(f"{n} {t}" for n, t in fs)
            meta.doc.setdefault("column_type_history", []).append(
                {
                    "name": name,
                    "seq": int(meta.properties.get("last-sequence-number", "0")),
                    "old": old_type,
                }
            )

        self._retry_commit(mutate)

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only RENAME COLUMN (Iceberg semantics): values in
        existing files are PRESERVED — the rename log records at which
        sequence the name changed, and reads alias each file era's
        physical name back to the current logical name. No rewrite."""
        from pyspark.sql.types import StructType

        def mutate(meta: M.TableMeta) -> None:
            fields = StructType.fromDDL(meta.schema_ddl).fields
            names = {f.name for f in fields}
            if old not in names:
                raise KeyError(f"column {old!r} not in schema")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            meta.schema_ddl = ", ".join(
                f"{new if f.name == old else f.name} {f.dataType.simpleString()}"
                for f in fields
            )
            created = meta.doc.get("column_created_seq", {})
            if old in created:
                created[new] = created.pop(old)
            # partition specs FOLLOW the rename (Iceberg specs bind to
            # source column IDS, so a rename never detaches them; this
            # dialect binds by name and must re-point explicitly) —
            # otherwise the next bucketed/truncated write and the
            # byte-format export would look up a retired column name
            for spec in meta.specs:
                for f in spec:
                    if f.get("source") == old:
                        f["source"] = new
            meta.doc.setdefault("column_renames", []).append(
                {
                    "old": old,
                    "new": new,
                    "seq": int(meta.properties.get("last-sequence-number", "0")),
                }
            )

        self._retry_commit(mutate)

    def _physical_name(self, current: str, file_seq: int) -> str:
        """The column's name as physically written in files of era
        ``file_seq``: walk the rename log backwards, undoing renames
        that happened at-or-after the file was written."""
        name = current
        for r in reversed(self.meta.doc.get("column_renames", [])):
            if file_seq <= int(r["seq"]) and name == r["new"]:
                name = r["old"]
        return name

    def _logical_name(self, physical: str, file_seq: int) -> str:
        """Inverse of ``_physical_name``: the CURRENT logical name of a
        column physically recorded as ``physical`` in era ``file_seq``
        — walk the rename log forward, applying renames that happened
        at-or-after the file was written. Equality-delete sidecars
        need this: their key columns are recorded under write-time
        names, and a later RENAME COLUMN must not detach them (Iceberg
        tracks delete keys by field id, so deletes follow renames)."""
        name = physical
        for r in self.meta.doc.get("column_renames", []):
            if file_seq <= int(r["seq"]) and name == r["old"]:
                name = r["new"]
        return name

    def _eq_delete_current_keys(self, d: dict) -> list[str]:
        """An equality-delete entry's key columns under CURRENT names
        (rename-log translation of the recorded write-time names)."""
        dseq = int(d.get("dseq", 0))
        return [self._logical_name(k, dseq) for k in d["keys"]]

    def set_partition_spec(self, spec: list[SpecField]) -> None:
        """Partition evolution (A22): append a new spec; files keep the
        spec id they were written under, scans union per-spec pruned
        sets (replay of /root/reference/README.md:138-195)."""
        def mutate(meta: M.TableMeta) -> None:
            if any(
                str(f.get("transform", "")).startswith("bucket[")
                for f in spec
            ) and not any(
                str(f.get("transform", "")).startswith("bucket[")
                for old in meta.specs
                for f in old
            ):
                # first bucket spec this table ever had → the murmur3
                # flavor stamp (bucketing.py). A LEGACY table whose
                # EXISTING specs already bucket with Spark's hash must
                # NOT be stamped: its old files' bucket dirs would be
                # mis-pruned under the murmur3 planner.
                meta.properties.setdefault(
                    "write.bucket.hash", "iceberg-murmur3"
                )
            meta.specs.append(spec)
            meta.doc["current_spec_id"] = len(meta.specs) - 1

        self._retry_commit(mutate)

    def set_properties(self, props: dict[str, str]) -> None:
        def mutate(meta: M.TableMeta) -> None:
            meta.properties.update(props)

        self._retry_commit(mutate)

    # ----------------------------------------------------------- write
    def _transform_expr(self, field: SpecField) -> F.Column:
        src, t = field["source"], field["transform"]
        if t == "identity":
            return F.col(src)
        if t == "year":
            return F.date_format(src, "yyyy")
        if t == "month":
            return F.date_format(src, "yyyy-MM")
        if t == "day":
            return F.date_format(src, "yyyy-MM-dd")
        if t == "hour":
            return F.date_format(src, "yyyy-MM-dd-HH")
        if t.startswith("bucket["):
            n = int(t[7:-1])
            if self._bucket_hash_flavor() == "iceberg-murmur3":
                # Iceberg's public bucket transform (murmur3_x86_32 of
                # the spec's value encoding — bucketing.py), so bucket
                # ids are the SAME ids a real Iceberg engine computes
                # and the table can cross the byte-format boundary
                # (iceformat.export_iceberg) with a true bucket spec.
                from iceberg_workshop_spark.icetbl.bucketing import bucket_col
                from pyspark.sql.types import StructType

                dt = {
                    f.name: f.dataType
                    for f in StructType.fromDDL(self.meta.schema_ddl).fields
                }[src]
                return bucket_col(F.col(src), n, dt)
            # legacy pre-murmur3 tables: keep Spark's hash so files
            # written before the switch stay consistent with new ones
            return F.pmod(F.hash(F.col(src)), F.lit(n))
        if t.startswith("truncate["):
            # Iceberg truncate[w]: numeric columns truncate to width-w
            # VALUE ranges (v - v % w, order-preserving numerically);
            # strings truncate to a w-char prefix. The pruner mirrors
            # this split (pruning.transform_value) — write and plan
            # must agree or range pruning silently drops files.
            from pyspark.sql.types import (
                ByteType,
                IntegerType,
                LongType,
                ShortType,
                StructType,
            )

            w = int(t[9:-1])
            dt = {
                f.name: f.dataType
                for f in StructType.fromDDL(self.meta.schema_ddl).fields
            }.get(src)
            if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
                return (F.col(src) - F.pmod(F.col(src), F.lit(w))).cast("long")
            return F.substring(F.col(src).cast("string"), 1, w)
        raise ValueError(f"unknown transform {t}")

    def _write_files(self, df: DataFrame, spec: list[SpecField], spec_id: int) -> list[dict]:
        """Write one commit's worth of immutable files under a unique
        snap dir; return their manifest entries (footer stats, no scan).

        Hidden partitioning: transform columns are written as `__p_*`
        directory keys only — source columns stay in the data files, so
        a later spec change never rewrites data (A23 semantics).
        """
        snap_dir = os.path.join(self.meta.location, M.DATA_DIR, f"snap-{uuid.uuid4().hex[:12]}")
        part_cols = []
        out = df
        # Iceberg write.sort-order (ALTER TABLE ... WRITE ORDERED BY):
        # range-cluster + sort incoming rows so each data file carries
        # disjoint min/max bounds on the order columns — stats-based
        # file skipping (A26) then prunes selective scans without any
        # later rewrite. The range exchange is the one extra shuffle
        # Iceberg's write.distribution-mode=range pays.
        order = self.meta.properties.get("write.sort-order")
        if order:
            from iceberg_workshop_spark.icetbl.sortorder import (
                parse_sort_order,
                sort_exprs,
            )

            oexprs = sort_exprs(self, parse_sort_order(order))
            # File count tracks the cluster but never drops below 8,
            # so the clustered layout gives pruning leverage even on a
            # small driver/session (tunable per table, like Iceberg's
            # write.target-file-size-bytes).
            parts = int(
                self.meta.properties.get(
                    "write.sort-order.num-files",
                    max(out.sparkSession.sparkContext.defaultParallelism // 4, 8),
                )
            )
            out = out.repartitionByRange(parts, *oexprs).sortWithinPartitions(*oexprs)
        for field in spec:
            pcol = f"__p_{field['name']}"
            t = field["transform"]
            if (
                t.startswith("bucket[")
                and self._bucket_hash_flavor() == "iceberg-murmur3"
            ):
                # murmur3 bucket goes through the df-level named-chain
                # form (bucketing.with_bucket_column): whole-stage
                # codegen fuses the staged arithmetic, ~11x faster
                # than the single-Column let-binding the generic
                # transform path would produce
                from iceberg_workshop_spark.icetbl.bucketing import (
                    with_bucket_column,
                )
                from pyspark.sql.types import StructType

                dt = {
                    f.name: f.dataType
                    for f in StructType.fromDDL(self.meta.schema_ddl).fields
                }[field["source"]]
                out = with_bucket_column(
                    out, pcol, field["source"], int(t[7:-1]), dt
                )
            else:
                out = out.withColumn(pcol, self._transform_expr(field))
            part_cols.append(pcol)
        # Iceberg write.distribution-mode=hash, the default here as in
        # Iceberg's Spark writer: cluster rows by their partition tuple
        # before the partitioned write, so each hidden partition is
        # written by ONE task instead of every task emitting a sliver
        # per partition (tasks × partitions small files, which every
        # later read and copy-on-write rewrite pays for). The rebalance
        # hint, unlike repartition, lets AQE merge small partitions and
        # split skewed ones at the advisory size. "range" is covered by
        # write.sort-order above; an explicit "none" keeps the incoming
        # layout.
        if (
            part_cols
            and not order
            and self.meta.properties.get("write.distribution-mode", "hash") == "hash"
        ):
            out = out.hint("rebalance", *[F.col(c) for c in part_cols])
        writer = out.write.mode("overwrite")
        # A28 property surface: Iceberg's write.parquet.compression-codec
        # (zstd/snappy/gzip) — applied at write time, per file, so a
        # codec change never rewrites history.
        codec = self.meta.properties.get("write.parquet.compression-codec")
        if codec:
            writer = writer.option("compression", codec)
        # Iceberg write.parquet.bloom-filter-enabled.column.X: have the
        # Parquet writer embed REAL bloom pages for external readers…
        from iceberg_workshop_spark.icetbl import bloom as B

        bloom_cols = [c for c in B.bloom_columns(self.meta.properties) if c in out.columns]
        for c in bloom_cols:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(snap_dir)

        files = []
        for root, _dirs, names in os.walk(snap_dir):
            for fname in names:
                if not fname.endswith(".parquet"):
                    continue
                fpath = os.path.join(root, fname)
                partition = {}
                rel = os.path.relpath(root, snap_dir)
                for seg in rel.split(os.sep):
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        if k.startswith("__p_"):
                            partition[k[4:]] = urllib.parse.unquote(v)
                n, bounds = file_stats(fpath)
                files.append(
                    {
                        "path": fpath,
                        "record_count": n,
                        "file_size": os.path.getsize(fpath),
                        "partition": partition,
                        "spec_id": spec_id,
                        "bounds": bounds,
                    }
                )
        # …and mirror them into the manifest entries so the PLANNER can
        # skip files on equality predicates (per-file bitmaps computed
        # in one distributed pass grouped by file; the driver receives
        # only set-bit positions — metadata scale).
        if bloom_cols and files:
            import urllib.parse as _up

            by_path = {os.path.abspath(f["path"]): f for f in files}
            read = self.spark.read.parquet(snap_dir).select(
                F.col("_metadata.file_path").alias("__fp"), *bloom_cols
            )
            for c in bloom_cols:
                pos = F.array(
                    *[
                        F.expr(B.position_sql(c, seed))
                        for seed in range(B.BLOOM_HASHES)
                    ]
                )
                rows = (
                    read.filter(F.col(c).isNotNull())
                    .select("__fp", F.explode(pos).alias("b"))
                    .groupBy("__fp")
                    .agg(F.collect_set("b").alias("bits"))
                    .collect()
                )
                for r in rows:
                    path = os.path.abspath(_up.unquote(_up.urlparse(r["__fp"]).path))
                    entry = by_path.get(path)
                    if entry is not None:
                        entry.setdefault("bloom", {})[c] = {
                            "m": B.BLOOM_BITS,
                            "k": B.BLOOM_HASHES,
                            "bits": B.encode_bits(r["bits"]),
                        }
        return files

    def _retry_commit(self, mutate, attempts: int = 10) -> None:
        """Optimistic-concurrency commit of a metadata-only mutation:
        apply ``mutate(meta)`` and CAS-commit; on ``CommitConflict``
        refresh to the winning writer's metadata and re-apply against
        the new base (Iceberg's commit-retry loop). The in-memory
        mutation of the losing attempt is discarded wholesale by the
        refresh, so ``mutate`` must derive everything it writes from
        the ``meta`` it is handed."""
        for _ in range(attempts):
            mutate(self.meta)
            try:
                self.meta = self._commit_meta()
                return
            except M.CommitConflict:
                self.meta = self._refresh_meta()
        raise M.CommitConflict(
            f"commit did not succeed after {attempts} attempts at {self.meta.location}"
        )

    def _commit_snapshot(
        self,
        files: list[dict],
        operation: str,
        branch: str | None = None,
        delete_files: list[dict] | None = None,
        rebase=None,
    ) -> None:
        """Append a snapshot and CAS-commit it.

        ``rebase(fresh_meta) -> files`` recomputes the full file list
        after a ``CommitConflict`` — set for blind appends (append/
        truncate/adopt), whose new files stay valid on any base, so
        two concurrent appenders both land (neither's snapshot is
        lost). Copy-on-write operations (delete/update/merge/
        overwrite/compaction) leave it None: their planned file set
        was derived from one specific base snapshot, so a conflicting
        commit invalidates the plan and the conflict propagates for
        the caller to re-plan — Iceberg's validation-exception
        behavior, never a silent lost update."""
        # New files (no seq yet) are re-stamped with the attempt's
        # sequence on every retry; base files keep the seq of the
        # commit that added them (equality-delete correctness).
        new_ids = {id(f) for f in files if "seq" not in f}
        carry = delete_files
        for _ in range(10):
            # Carried entry dicts may be ALIASED into earlier
            # snapshots' files lists of the same metadata doc (a
            # snapshot carries its parent's entries forward by
            # reference). Copy any that the stamping below would
            # MUTATE (a legacy entry missing seq/first_snapshot_id)
            # so backfills never rewrite history; fully-stamped
            # carried entries pass through by reference — keeping
            # them identity-shared with the parent's manifest entries
            # is what makes manifest reuse and the commit summary
            # O(changed files) id-set checks instead of per-entry
            # value comparisons. This commit's own new files are
            # private dicts and stamp in place.
            copied_any = False
            out_files = []
            for f in files:
                if id(f) in new_ids or ("seq" in f and "first_snapshot_id" in f):
                    out_files.append(f)
                else:
                    out_files.append(dict(f))
                    copied_any = True
            files = out_files
            parent = (
                self.meta.refs[branch]["snapshot_id"]
                if branch
                else self.meta.current_snapshot_id
            )
            # Data sequence numbers (Iceberg v2): every commit gets the
            # next sequence; files added by it are stamped with that seq
            # so equality-delete files (which record their own seq)
            # apply only to STRICTLY OLDER data — a key re-inserted
            # after the delete survives the anti-join.
            seq = int(self.meta.properties.get("last-sequence-number", "0")) + 1
            self.meta.properties["last-sequence-number"] = str(seq)
            for f in files:
                if id(f) in new_ids:
                    f["seq"] = seq
                else:
                    f.setdefault("seq", seq)
            if carry is None:
                # carry existing merge-on-read deletes forward (like
                # data files, they stay until a rewrite materializes
                # them) — from THIS commit's parent: a branch append
                # extends the branch head, so main's delete files must
                # not leak into it (and vice versa)
                delete_files = (
                    list(self.meta.delete_entries(self.meta.snapshot(parent)))
                    if parent is not None
                    else []
                )
            else:
                delete_files = carry
            snap_id = M.new_snapshot_id()
            # Iceberg persists entry status in manifests: a file is
            # ADDED in the snapshot that first references it and
            # EXISTING ever after — even once that first snapshot is
            # expired. Record the first-referencing snapshot on the
            # entry at commit time so the .entries metadata view can
            # report status without walking (possibly expired)
            # ancestry. New files are re-stamped on every CAS retry
            # (the attempt's snapshot id changes); carried-over files
            # keep the stamp of the commit that added them.
            legacy = [
                f
                for f in files
                if id(f) not in new_ids and "first_snapshot_id" not in f
            ]
            if legacy:
                # Entries from a table written before stamping existed:
                # derive the stamp from the OLDEST snapshot referencing
                # the path (its true ADDED commit), not this commit —
                # stamping with snap_id would report legacy files as
                # ADDED here and EXISTING nowhere.
                first_ref: dict[str, int] = {}
                for sn in self.meta.snapshots:  # oldest-first
                    for df in self.meta.files(sn):
                        first_ref.setdefault(df["path"], sn["snapshot_id"])
                for f in legacy:
                    f["first_snapshot_id"] = first_ref.get(f["path"], snap_id)
            for f in files:
                if id(f) in new_ids:
                    f["first_snapshot_id"] = snap_id
            # Persist the commit summary (added/removed files+records
            # vs the attempt's parent) like Iceberg's snapshot summary
            # map — derived-at-read-time diffs go stale the moment the
            # parent is expired.
            parent_list = (
                self.meta.files(self.meta.snapshot(parent))
                if parent is not None
                else []
            )
            parent_ids = set(map(id, parent_list))
            cand_added = [f for f in files if id(f) not in parent_ids]
            if not copied_any and all(id(f) in new_ids for f in cand_added):
                # Every carried entry is identity-shared with the
                # parent's list (the common case: stamped entries pass
                # through by reference), so the added/removed diff is
                # two id-set scans — no per-path dicts. A carried
                # entry that does NOT identity-match (e.g. a rollback
                # replaying pre-consolidation manifest objects) drops
                # to the exact path-keyed diff below.
                s_added = cand_added
                file_ids = set(map(id, files))
                s_removed = [
                    f for f in parent_list if id(f) not in file_ids
                ]
            else:
                parent_files = {f["path"]: f for f in parent_list}
                cur_by_path = {f["path"]: f for f in files}
                s_added = [
                    f for p2, f in cur_by_path.items() if p2 not in parent_files
                ]
                s_removed = [
                    f for p2, f in parent_files.items() if p2 not in cur_by_path
                ]
            snap = {
                "snapshot_id": snap_id,
                "parent_id": parent,
                "timestamp_ms": M.now_ms(),
                "operation": operation,
                "files": files,
                "delete_files": delete_files,
                "summary": {
                    "added_data_files": len(s_added),
                    "added_records": sum(
                        f.get("record_count") or 0 for f in s_added
                    ),
                    "removed_data_files": len(s_removed),
                    "removed_records": sum(
                        f.get("record_count") or 0 for f in s_removed
                    ),
                },
            }
            self.meta.snapshots.append(snap)
            if branch:
                self.meta.refs[branch]["snapshot_id"] = snap["snapshot_id"]
            else:
                self.meta.doc["current_snapshot_id"] = snap["snapshot_id"]
                self.meta.doc.setdefault("history_log", []).append(
                    {"made_current_at_ms": snap["timestamp_ms"], "snapshot_id": snap["snapshot_id"]}
                )
            try:
                self.meta = self._commit_meta()
                return
            except M.CommitConflict:
                # Discard this attempt's in-memory mutation by adopting
                # the winner's metadata, then rebase or re-raise.
                self.meta = self._refresh_meta()
                if rebase is None:
                    raise
                files = rebase(self.meta)
        raise M.CommitConflict(
            f"snapshot commit did not succeed after 10 attempts at {self.meta.location}"
        )

    def _partition_manifests(
        self, parent: dict | None, mkey: str, removed: list[dict]
    ):
        """Split the parent's ``mkey`` manifest descriptors into
        (carried-by-reference descriptors, rewrite-pool entries,
        located_all). Descriptors holding none of the removed entries
        pass through untouched — never loaded when the removal set is
        already exhausted; a manifest holding a removed entry is
        loaded once and its survivors join the rewrite pool. Location
        is by object identity (``TableMeta.mf_idset``), exact because
        manifests are immutable and entries identity-shared through
        ``_mf_cache``."""
        mans = list(self.meta.manifests_of(parent, mkey)) if parent else []
        if not removed:
            return mans, [], True
        removed_ids = frozenset(map(id, removed))
        remaining = set(removed_ids)
        carried: list[dict] = []
        pool: list[dict] = []
        for m in mans:
            if not remaining:
                carried.append(m)
                continue
            hit = remaining & self.meta.mf_idset(m["path"])
            if hit:
                pool.extend(
                    e
                    for e in self.meta._load_mf(m["path"])
                    if id(e) not in removed_ids
                )
                remaining -= hit
            else:
                carried.append(m)
        return carried, pool, not remaining

    def _commit_snapshot_delta(
        self,
        added: list[dict],
        removed: list[dict],
        operation: str,
        *,
        branch: str | None = None,
        added_deletes: list[dict] | None = None,
        removed_deletes: list[dict] | None = None,
        truncate: bool = False,
        truncate_deletes: bool = False,
        rebase=None,
    ) -> None:
        """O(changed-files) snapshot commit — the delta contract the
        round-10 verdict asked for: callers hand (added entries,
        removed entries, carried-by-reference everything else) instead
        of the full live file list, and the commit never walks live
        files. The snapshot is built MANIFEST-FIRST: every parent
        manifest whose entries all survive carries into the child by
        descriptor reference (not loaded, not walked, not re-stamped);
        survivors of partially-removed manifests plus the added
        entries shard into new manifests; sequence and
        first_snapshot_id stamping touch ONLY the added entries (they
        are this commit's private dicts). Wall-time is
        O(|added| + |removed| + |parent manifests|) — independent of
        live file count; tools/bench_meta.py certifies both written
        bytes and wall-time (BENCH_meta.json).

        ``removed``/``removed_deletes`` must be entry objects obtained
        from THIS ``self.meta``'s materialization of the commit base
        (identity is the locator). ``truncate``/``truncate_deletes``
        drop every parent data/delete manifest outright (O(1)).

        ``rebase`` on CommitConflict: None → propagate (strict CoW
        validation); ``"blind"`` → retry the identical delta on the
        winner's head (append/truncate — requires ``removed`` empty,
        the delta is base-independent); callable →
        ``rebase(fresh_meta) -> (added, removed, added_deletes,
        removed_deletes, truncate)`` re-validating against the winner
        and re-deriving the delta from FRESH entry objects (old
        identities are meaningless after a refresh), or raising
        CommitConflict for a re-plan.

        Falls back to the legacy materialized-list ``_commit_snapshot``
        when the parent carries pre-stamping manifests (descriptor
        lacks ``stamped: true``) or a removed entry cannot be located
        in the parent's manifests — those need the per-entry backfill
        that only the legacy path performs."""
        if rebase == "blind" and removed:
            raise ValueError("blind rebase requires an empty removed set")
        plan_schema = self.meta.schema_ddl
        # Entries arriving WITH a sequence number keep it (same
        # contract as the legacy path's `"seq" not in f` test): an
        # adopted foreign table's files must retain their source data
        # sequences or its equality deletes' row_seq < dseq rule
        # collapses. Identity-set so CAS retries still re-stamp the
        # entries THIS call stamped on a failed attempt.
        pre_seq = {id(f) for f in added if "seq" in f}
        for _ in range(10):
            parent_id = (
                self.meta.refs[branch]["snapshot_id"]
                if branch
                else self.meta.current_snapshot_id
            )
            parent = (
                self.meta.snapshot(parent_id) if parent_id is not None else None
            )
            # A parent is delta-eligible only if it is SHARDED (carries
            # manifest descriptors or a manifest list — a legacy
            # inline-file snapshot must take the materializing
            # fallback, which migrates and backfills it) AND every
            # descriptor is stamped.
            eligible = parent is None or (
                ("manifest_list" in parent or "manifests" in parent)
                and all(
                    m.get("stamped")
                    for m in self.meta.manifests_of(parent)
                )
            )
            carried: list[dict] = []
            pool: list[dict] = []
            if eligible and not truncate:
                carried, pool, located = self._partition_manifests(
                    parent, "manifests", removed
                )
                eligible = located
            dcarried: list[dict] = []
            dpool: list[dict] = []
            if eligible and not truncate_deletes:
                dcarried, dpool, located = self._partition_manifests(
                    parent, "delete_manifests", removed_deletes or []
                )
                eligible = located
            if not eligible:
                self._commit_snapshot_delta_fallback(
                    added,
                    removed,
                    operation,
                    branch=branch,
                    added_deletes=added_deletes,
                    removed_deletes=removed_deletes,
                    truncate=truncate,
                    truncate_deletes=truncate_deletes,
                    rebase=rebase,
                )
                return
            seq = int(self.meta.properties.get("last-sequence-number", "0")) + 1
            self.meta.properties["last-sequence-number"] = str(seq)
            snap_id = M.new_snapshot_id()
            # Added entries are private dicts — stamp in place,
            # re-stamped on every CAS retry like the legacy path.
            # Carried and pool entries keep the seq/first_snapshot_id
            # of the commit that added them (equality-delete and
            # .entries-status correctness).
            for f in added:
                if id(f) not in pre_seq:
                    f["seq"] = seq
                f["first_snapshot_id"] = snap_id
            new_descr = (
                M._write_manifest_shards(self.meta, pool + added)
                if pool or added
                else []
            )
            new_ddescr = (
                M._write_manifest_shards(
                    self.meta, dpool + list(added_deletes or [])
                )
                if dpool or added_deletes
                else []
            )
            if truncate:
                rm_n, rm_rec = (
                    self.meta.file_counts(parent) if parent else (0, 0)
                )
            else:
                rm_n = len(removed)
                rm_rec = sum(f.get("record_count") or 0 for f in removed)
            snap = {
                "snapshot_id": snap_id,
                "parent_id": parent_id,
                "timestamp_ms": M.now_ms(),
                "operation": operation,
                "manifests": carried + new_descr,
                "delete_manifests": dcarried + new_ddescr,
                "summary": {
                    "added_data_files": len(added),
                    "added_records": sum(
                        f.get("record_count") or 0 for f in added
                    ),
                    "removed_data_files": rm_n,
                    "removed_records": rm_rec,
                },
            }
            self.meta.snapshots.append(snap)
            if branch:
                self.meta.refs[branch]["snapshot_id"] = snap_id
            else:
                self.meta.doc["current_snapshot_id"] = snap_id
                self.meta.doc.setdefault("history_log", []).append(
                    {
                        "made_current_at_ms": snap["timestamp_ms"],
                        "snapshot_id": snap_id,
                    }
                )
            try:
                self.meta = self._commit_meta()
                return
            except M.CommitConflict:
                self.meta = self._refresh_meta()
                if rebase is None:
                    raise
                if rebase == "blind":
                    if self.meta.schema_ddl != plan_schema:
                        # even a blind append is schema-sensitive: its
                        # files carry plan-time physical column names,
                        # but the retry would stamp them into the
                        # post-change era, which reads would misresolve
                        raise M.CommitConflict(
                            "blind rebase: a concurrent schema change "
                            "committed — re-plan against the new schema"
                        )
                else:
                    (
                        added,
                        removed,
                        added_deletes,
                        removed_deletes,
                        truncate,
                    ) = rebase(self.meta)
        raise M.CommitConflict(
            f"snapshot commit did not succeed after 10 attempts at {self.meta.location}"
        )

    def _commit_snapshot_delta_fallback(
        self,
        added,
        removed,
        operation,
        *,
        branch,
        added_deletes,
        removed_deletes,
        truncate,
        truncate_deletes,
        rebase,
    ) -> None:
        """Materialize the delta into the legacy full-list contract —
        the pre-stamping-table escape hatch (legacy entries need the
        per-entry seq/first_snapshot_id backfill)."""

        def materialize(meta: M.TableMeta):
            pid = (
                meta.refs[branch]["snapshot_id"]
                if branch
                else meta.current_snapshot_id
            )
            base = list(meta.files(meta.snapshot(pid))) if pid is not None else []
            dels = (
                list(meta.delete_entries(meta.snapshot(pid)))
                if pid is not None
                else []
            )
            return base, dels

        def apply(meta, added2, removed2, added_d2, removed_d2, trunc2):
            # a CAS-losing delta attempt may have stamped the added
            # entries with ITS seq/snapshot id; strip so the legacy
            # path treats them as new and re-stamps with the committing
            # attempt's values (a stale first_snapshot_id would name a
            # snapshot that never committed — found by round-11 review)
            for f in added2:
                f.pop("seq", None)
                f.pop("first_snapshot_id", None)
            base, dels = materialize(meta)
            rm = set(map(id, removed2))
            files = ([] if trunc2 else [f for f in base if id(f) not in rm])
            files += added2
            if truncate_deletes:
                dfin: list[dict] = []
            else:
                rmd = set(map(id, removed_d2 or []))
                dfin = [d for d in dels if id(d) not in rmd]
            dfin = dfin + list(added_d2 or [])
            return files, dfin

        files, dfin = apply(
            self.meta, added, removed, added_deletes, removed_deletes, truncate
        )
        if (
            added_deletes is None
            and removed_deletes is None
            and not truncate_deletes
        ):
            # untouched delete set: let the legacy path re-derive the
            # carry from each attempt's parent (a fixed list would pin
            # the plan-time delete set across a blind rebase)
            dfin = None
        if rebase is None:
            legacy_rebase = None
        elif rebase == "blind":
            legacy_rebase = lambda m: apply(  # noqa: E731
                m, added, [], added_deletes, [], truncate
            )[0]
        else:
            legacy_rebase = lambda m: apply(m, *rebase(m))[0]  # noqa: E731
        self._commit_snapshot(
            files,
            operation,
            branch=branch,
            delete_files=dfin,
            rebase=legacy_rebase,
        )

    # ------------------------------------------------------------ refs
    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named ref (Iceberg `ALTER TABLE ... CREATE TAG`)."""
        self._create_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Movable named head (Iceberg `CREATE BRANCH`); writes with
        ``append(df, branch=name)`` advance it without touching main."""
        self._create_ref(name, "branch", snapshot_id)

    def _create_ref(self, name: str, kind: str, snapshot_id: int | None) -> None:
        def mutate(meta: M.TableMeta) -> None:
            sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
            meta.snapshot(sid)  # validates existence
            if name in meta.refs:
                raise ValueError(f"ref {name!r} already exists")
            meta.refs[name] = {
                "snapshot_id": sid,
                "type": kind,
                "created_at_ms": M.now_ms(),
            }

        self._retry_commit(mutate)

    def drop_ref(self, name: str) -> None:
        """DROP TAG / DROP BRANCH: remove a named ref. The snapshots it
        protected stay until the next expiration pass (Iceberg
        semantics — dropping a ref never deletes data by itself)."""

        def mutate(meta: M.TableMeta) -> None:
            if name not in meta.refs:
                raise KeyError(f"ref {name!r} does not exist")
            del meta.refs[name]

        self._retry_commit(mutate)

    def fast_forward(self, branch: str) -> None:
        """Publish a branch: point main at the branch head (the WAP
        publish step as a ref operation)."""

        def mutate(meta: M.TableMeta) -> None:
            sid = meta.refs[branch]["snapshot_id"]
            meta.doc["current_snapshot_id"] = sid
            meta.doc.setdefault("history_log", []).append(
                {"made_current_at_ms": M.now_ms(), "snapshot_id": sid}
            )

        self._retry_commit(mutate)

    def append(self, df: DataFrame, branch: str | None = None) -> None:
        """INSERT INTO (A6-A8). Dynamic partitioning is inherent: the
        current spec's transforms route rows to directories; a static
        partition insert is just a literal column upstream. With
        ``branch=``, the new snapshot extends and advances that branch
        head instead of main."""
        spec_id = self.meta.current_spec_id
        new = self._write_files(df.selectExpr(*self._column_names()), self.meta.specs[spec_id], spec_id)
        # Blind append: the new files are valid on any base, so a
        # concurrent commit rebases instead of failing. Delta commit —
        # the base's manifests carry by reference, never walked.
        self._commit_snapshot_delta(new, [], "append", branch=branch, rebase="blind")

    def insert_values(self, rows: list[tuple], columns: list[str] | None = None) -> None:
        """INSERT INTO ... [(col, ...)] VALUES: with ``columns``, the
        tuples are bound to THOSE columns in the caller's order (SQL
        column-list semantics) and unnamed columns land NULL. The
        frame is then projected back to table order for append. (The
        old implementation bound tuples positionally against the FULL
        schema before a reorder-only select, silently inverting the
        caller's values — round-11 review finding.)"""
        from pyspark.sql.types import StructType

        if columns:
            fields = {
                f.name: f for f in StructType.fromDDL(self.meta.schema_ddl).fields
            }
            unknown = [c for c in columns if c not in fields]
            if unknown:
                raise ValueError(
                    f"insert_values columns {unknown} not in table "
                    f"schema ({self.meta.schema_ddl})"
                )
            partial = ", ".join(
                f"{c} {fields[c].dataType.simpleString()}" for c in columns
            )
            df = self.spark.createDataFrame(rows, schema=partial).select(
                *[
                    F.col(n)
                    if n in columns
                    else F.lit(None).cast(fields[n].dataType).alias(n)
                    for n in fields
                ]
            )
        else:
            df = self.spark.createDataFrame(rows, schema=self.meta.schema_ddl)
        self.append(df)

    def truncate(self) -> None:
        """TRUNCATE (A11): a new snapshot with an empty file list —
        old files stay until expire_snapshots (time travel works)."""
        self._commit_snapshot_delta(
            [], [], "truncate", truncate=True, rebase="blind"
        )

    # ------------------------------------------------------------ read
    def _column_names(self) -> list[str]:
        from pyspark.sql.types import StructType

        return [f.name for f in StructType.fromDDL(self.meta.schema_ddl).fields]

    def _read_files(
        self,
        files: list[dict],
        with_pos: bool = False,
        with_fp: bool = False,
    ) -> DataFrame:
        """``with_pos=True`` adds ``__path``/``__pos`` columns (the
        file's URI and the row's ordinal within it, from Spark's hidden
        ``_metadata`` struct) so positional deletes can anti-join;
        ``with_fp=True`` adds just ``__fp`` (the file URI) for
        affected-file discovery in copy-on-write DML. Both must be
        attached INSIDE this method: on an evolved table the result is
        a union of per-era projections, and ``_metadata`` is only
        resolvable on the raw file scans beneath it — attaching after
        the union throws UNRESOLVED_COLUMN (bug found by the
        type-widening work). Zero cost when off."""

        def _pos_cols(df: DataFrame) -> DataFrame:
            if with_pos:
                df = df.withColumns(
                    {
                        "__path": F.col("_metadata.file_path"),
                        "__pos": F.col("_metadata.row_index"),
                    }
                )
            if with_fp:
                df = df.withColumn("__fp", F.col("_metadata.file_path"))
            return df

        if not files:
            df = self.spark.createDataFrame([], schema=self.meta.schema_ddl)
            if with_pos:
                df = df.withColumns(
                    {
                        "__path": F.lit(None).cast("string"),
                        "__pos": F.lit(None).cast("long"),
                    }
                )
            if with_fp:
                df = df.withColumn("__fp", F.lit(None).cast("string"))
            return df
        created = self.meta.doc.get("column_created_seq", {})
        renames = self.meta.doc.get("column_renames", [])
        widened = self.meta.doc.get("column_type_history", [])
        if not created and not renames and not widened:
            return _pos_cols(
                self.spark.read.schema(self.meta.schema_ddl).parquet(
                    *[f["path"] for f in files]
                )
            )
        # Column identity: a file only carries values for columns that
        # existed when it was written (file.seq > column creation seq).
        # Files written earlier read the column as NULL even if a
        # same-named physical column is present (dropped + re-added
        # name must not resurrect old data). Group by file seq, mask,
        # union — the fast path above is untouched for tables that
        # never evolved.
        from pyspark.sql.types import StructType

        types = {
            f.name: f.dataType
            for f in StructType.fromDDL(self.meta.schema_ddl).fields
        }
        by_seq: dict[int, list[str]] = {}
        for f in files:
            by_seq.setdefault(int(f.get("seq", 0)), []).append(f["path"])
        def era_type(name: str, file_seq: int) -> str:
            # Type widening (Iceberg's ALTER COLUMN TYPE): a file
            # written before a widening carries the OLD physical type;
            # read it as written, then cast up. The earliest widening
            # whose change-seq >= the file's seq gives that file's
            # physical type; no such change = the declared type.
            for ch in sorted(
                (c for c in widened if c["name"] == name),
                key=lambda c: int(c["seq"]),
            ):
                if file_seq <= int(ch["seq"]):
                    return ch["old"]
            return types[name].simpleString()

        parts = []
        declared = [
            f.name for f in StructType.fromDDL(self.meta.schema_ddl).fields
        ]
        for seq, paths in sorted(by_seq.items()):
            # Only columns ALIVE in this era (created before the file
            # was written) are read from the files; columns created
            # later materialize as NULL without touching the file at
            # all. Reading a dead column and masking it afterwards —
            # the previous approach — broke on rename-then-re-add:
            # with `a` renamed to `b` and a NEW `a` added later, BOTH
            # declared columns resolve to physical name `a` in the old
            # era, and the duplicate column name fails the scan
            # (COLUMN_ALREADY_EXISTS). Alive physical names are
            # injective by construction: they all coexisted in one
            # write-time schema.
            alive = [
                n
                for n in declared
                if n not in created or seq > int(created[n])
            ]
            meta_cols = (["__path", "__pos"] if with_pos else []) + (
                ["__fp"] if with_fp else []
            )
            if alive:
                phys = {n: self._physical_name(n, seq) for n in alive}
                era_schema = ", ".join(
                    f"{phys[n]} {era_type(n, seq)}" for n in alive
                )
                df = _pos_cols(
                    self.spark.read.schema(era_schema).parquet(*paths)
                )
                # One atomic select does rename + upcast for every
                # column (sequential withColumnRenamed can collide
                # transiently when a rename chain swaps names).
                df = df.select(
                    *[F.col(c) for c in meta_cols],
                    *[
                        F.col(phys[n]).cast(types[n]).alias(n)
                        for n in alive
                    ],
                )
            else:
                # No declared column existed in this era (all dropped/
                # re-added later): the file still contributes its ROWS
                # as all-NULL, matching Iceberg field-id semantics.
                df = _pos_cols(self.spark.read.parquet(*paths)).select(
                    *[F.col(c) for c in meta_cols]
                )
            for n in declared:
                if n not in alive:
                    df = df.withColumn(n, F.lit(None).cast(types[n]))
            parts.append(df.select(*meta_cols, *declared))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        as_of_timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Current, time-travel (A20/A34), or ref read (`VERSION AS OF
        '<tag|branch>'` in Iceberg's Spark dialect). Merge-on-read
        equality deletes of the selected snapshot are applied at read
        time (sequence-aware anti-join).

        Divergence note: time-travel reads project the CURRENT table
        schema (Iceberg projects the snapshot's own schema-id); after
        a DROP the old snapshot's data for that column is not
        re-exposed. Era-correct VALUES are still guaranteed by the
        creation-seq/rename machinery in `_read_files`."""
        if ref is not None:
            snapshot_id = self.meta.refs[ref]["snapshot_id"]
        snap = self._resolve_snapshot(as_of_timestamp_ms, snapshot_id)
        if snap is None:
            return self._read_files([])
        return self._apply_deletes(self.meta.files(snap), self.meta.delete_entries(snap))

    def _resolve_snapshot(
        self,
        as_of_timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> dict | None:
        if snapshot_id is not None:
            return self.meta.snapshot(snapshot_id)
        if as_of_timestamp_ms is not None:
            # AS OF resolves through the SNAPSHOT LOG (history_log,
            # Iceberg's snapshot-log semantics): the snapshot that was
            # CURRENT at that instant. A max-over-all-snapshots rule
            # would (a) leak unpublished branch heads — a staged WAP
            # snapshot has the newest timestamp but never was current
            # on main — and (b) ignore rollback, which re-points
            # current at an OLDER snapshot and records that in the log
            # (round-11 review finding).
            log = self.meta.doc.get("history_log")
            if log:
                by_id = {s["snapshot_id"]: s for s in self.meta.snapshots}
                last = None
                for h in log:  # chronological
                    if h["made_current_at_ms"] <= as_of_timestamp_ms:
                        last = h
                if last is None:
                    return None
                snap = by_id.get(last["snapshot_id"])
                if snap is None:
                    # The snapshot that WAS current at the requested
                    # instant has been expired. Silently resolving to
                    # an older still-live entry would return data that
                    # was not current then (round-12 review fix);
                    # Iceberg likewise fails time travel to expired
                    # state.
                    raise M.SnapshotExpired(
                        f"time travel to {as_of_timestamp_ms}: snapshot "
                        f"{last['snapshot_id']} was current at that "
                        "instant but has been removed by "
                        "expire_snapshots; the requested state can no "
                        "longer be materialized"
                    )
                return snap
            # legacy doc without a history log: fall back to the
            # newest snapshot at-or-before the instant
            eligible = [
                s
                for s in self.meta.snapshots
                if s["timestamp_ms"] <= as_of_timestamp_ms
            ]
            return max(eligible, key=lambda s: s["timestamp_ms"]) if eligible else None
        sid = self.meta.current_snapshot_id
        return None if sid is None else self.meta.snapshot(sid)

    def _apply_deletes(
        self, files: list[dict], delete_files: list[dict],
        keep_pos: bool = False,
    ) -> DataFrame:
        """Read data files with merge-on-read equality deletes applied:
        one anti-join of (rows, their file's data sequence) against the
        union of delete-key files, matching on the equality columns and
        ``row_seq < delete_seq`` (Iceberg v2 sequence rule). No data
        file is rewritten — the cost moves to read time until a
        rewrite materializes the deletes."""
        if not delete_files:
            return self._read_files(files, with_pos=keep_pos)
        eq_dels = [d for d in delete_files if d.get("kind", "eq") == "eq"]
        pos_dels = [d for d in delete_files if d.get("kind") == "pos"]
        # Positional deletes name their target files on the entry
        # (written by delete_where_pos); only those files need the
        # _metadata columns and the (path, pos) anti-join — every
        # other file scans clean. An entry without the target list
        # (defensive) degrades to all-files-targeted.
        pos_targets: set[str] | None = set()
        for d in pos_dels:
            tp = d.get("target_paths")
            if tp is None:
                pos_targets = None
                break
            pos_targets.update(tp)

        def _needs_pos(f: dict) -> bool:
            if keep_pos:
                return True  # caller wants (__path, __pos) on every row
            if not pos_dels:
                return False
            if pos_targets is None:
                return True
            return os.path.abspath(f["path"]) in pos_targets

        by_key: dict[tuple[int, bool], list[dict]] = {}
        for f in files:
            by_key.setdefault((int(f.get("seq", 0)), _needs_pos(f)), []).append(f)
        data = None
        for (seq, wp), fs in sorted(by_key.items()):
            part = self._read_files(fs, with_pos=wp).withColumn(
                "__seq", F.lit(seq)
            )
            if bool(pos_dels) and not wp:
                # untouched files still union with the targeted part:
                # carry null markers so the schemas line up (the
                # anti-join condition below only binds targeted rows)
                part = part.withColumns(
                    {
                        "__path": F.lit(None).cast("string"),
                        "__pos": F.lit(None).cast("long"),
                    }
                )
            data = part if data is None else data.unionByName(part)
        if data is None:
            return self._read_files([], with_pos=keep_pos)
        if pos_dels:
            # Positional deletes (Iceberg v2's second delete flavor):
            # (file_path, pos) pairs target rows of a SPECIFIC data
            # file by ordinal. Data-file paths are never reused, so a
            # path+pos match alone is already sequence-correct — a key
            # re-inserted after the delete lands in a NEW file and can
            # never collide with a recorded (path, pos).
            pd_union = None
            for d in pos_dels:
                one = self.spark.read.parquet(d["path"]).select(
                    F.col("file_path").alias("__path"),
                    F.col("pos").alias("__pos"),
                )
                pd_union = one if pd_union is None else pd_union.unionByName(one)
            data = data.join(pd_union, ["__path", "__pos"], "left_anti")
            if not keep_pos:
                data = data.drop("__path", "__pos")
        if eq_dels:
            # Key columns are compared under CURRENT logical names:
            # each sidecar's recorded write-time names are translated
            # through the rename log (round-11 fix: RENAME COLUMN with
            # outstanding equality deletes used to break every read
            # with UNRESOLVED_COLUMN — deletes must follow renames,
            # Iceberg's field-id semantics).
            cur_keys = [self._eq_delete_current_keys(d) for d in eq_dels]
            keys = cur_keys[0]
            # delete_where_mor rejects mixed key SETS at write time;
            # re-check here so a hand-crafted manifest cannot silently
            # apply a later delete with the wrong equality columns.
            # Order-insensitive (round-10 ADVICE): the anti-join binds
            # by column NAME, so ['k','v'] and ['v','k'] are one set.
            for cur in cur_keys[1:]:
                if sorted(cur) != sorted(keys):
                    raise ValueError(
                        "equality-delete files disagree on key columns: "
                        f"{keys} vs {cur}"
                    )
            dels = None
            for d, cur in zip(eq_dels, cur_keys):
                one = (
                    self.spark.read.parquet(d["path"])
                    .select(
                        *[
                            F.col(phys).alias(c)
                            for phys, c in zip(d["keys"], cur)
                        ]
                    )
                    .withColumn("__dseq", F.lit(int(d["dseq"])))
                )
                dels = one if dels is None else dels.unionByName(one)
            cond = F.col("__seq") < F.col("__dseq")
            for k in keys:
                # NULL-SAFE equality (round-11 fix): Iceberg equality
                # deletes treat null as equal to null, so a delete row
                # with a NULL key must delete NULL-keyed data rows —
                # plain `=` made such tombstones silent no-ops
                cond = cond & data[k].eqNullSafe(dels[k])
            data = data.join(dels, cond, "left_anti")
        return data.drop("__seq")

    @staticmethod
    def _delete_entry_bytes(d: dict) -> int:
        """Physical size of a MoR delete sidecar for IO reporting —
        entries don't record file_size (they carry record_count and
        keys/targets), so stat the tiny file, tolerating a sidecar
        GC'd under a stale report call."""
        if "file_size" in d:
            return d["file_size"] or 0
        try:
            return os.path.getsize(d["path"])
        except OSError:
            return 0

    def scan(self, preds: list | None = None) -> DataFrame:
        """Pruned scan (A25/A26): partition-transform + column-bounds
        file pruning in the planner, then the same predicate pushed to
        Spark for row-level correctness. ``last_scan_report`` records
        the files/bytes ratio benchmarked against BASELINE.md.

        ``preds`` is a conjunct list or DNF (list of conjunct lists):
        for an OR predicate a file survives if ANY disjunct keeps it,
        and bucket pruning applies per disjunct before the union."""
        from iceberg_workshop_spark.icetbl.pruning import (
            PRUNE_DISTRIBUTED_THRESHOLD,
            normalize_dnf,
            prune_files_distributed,
        )

        files = self.meta.current_files()
        spec_by_id = {i: s for i, s in enumerate(self.meta.specs)}
        dnf = normalize_dnf(preds or [])
        if not dnf:
            kept = files
        elif len(files) >= PRUNE_DISTRIBUTED_THRESHOLD:
            # scale path: the per-file survival decision runs on
            # executors (same pure functions — pruning.survives_dnf),
            # one pass for ALL disjuncts; only bucket expectations are
            # computed driver-side (metadata-sized)
            kept = prune_files_distributed(
                self.spark, files, spec_by_id, dnf,
                [self._bucket_expectations(d) for d in dnf],
            )
        else:
            kept_paths: set[str] = set()
            for d in dnf:
                k, _ = prune_files(files, spec_by_id, d)
                k = self._prune_bucket(k, d)
                kept_paths.update(f["path"] for f in k)
            kept = [f for f in files if f["path"] in kept_paths]
        # Merge-on-read deletes apply on the pruned path too (round-10
        # fix: scan() used to read kept files raw, silently
        # resurrecting MoR-deleted rows on any pruned read, including
        # sqlfront predicate pushdown). The anti-join runs against the
        # KEPT subset only, so pruning still pays.
        cur = self.meta.current_snapshot_id
        dels = (
            self.meta.delete_entries(self.meta.snapshot(cur))
            if cur is not None
            else []
        )
        self.last_scan_report = {
            "files_total": len(files),
            "files_scanned": len(kept),
            "bytes_total": sum(f.get("file_size", 0) for f in files),
            "bytes_scanned": sum(f.get("file_size", 0) for f in kept),
            # MoR sidecars the read must ALSO touch (they are not part
            # of the prune ratio — files_/bytes_scanned measure the
            # data-file skipping the planner achieved — but the report
            # should not understate total read IO when deletes are
            # outstanding)
            "delete_files_read": len(dels),
            "delete_bytes_read": sum(
                self._delete_entry_bytes(d) for d in dels
            ),
        }
        df = self._apply_deletes(kept, dels) if dels else self._read_files(kept)
        if dnf:
            df = df.filter(_dnf_to_column(dnf))
        return df

    def _bucket_hash_flavor(self) -> str:
        """Which hash backs this table's bucket[N] dirs: tables created
        since the murmur3 switch carry the property; older on-disk
        tables (no property) were bucketed with Spark's hash."""
        return str(
            self.meta.properties.get("write.bucket.hash", "spark")
        )

    def _bucket_expectations(
        self, preds: list[Pred]
    ) -> dict[tuple[int, str], str | None]:
        """Precompute each bucket partition field's expected dir value
        for one disjunct's equality literals: ``(spec_id, field_name)``
        → the literal's bucket id as a string, or None for "cannot
        prune this field" (uncoercible literal). Driver-side and
        metadata-sized — the per-file check against it is the pure
        :func:`pruning.bucket_survives`, shared with the distributed
        planner.

        The literal is bucketed with the SAME function used at write
        time — Iceberg's murmur3 transform (bucketing.bucket_value,
        after coercing the literal to the source column's type) for
        current tables, Spark's hash for legacy ones — so planner and
        writer can never disagree. Range predicates can't prune a hash
        bucket; they never register an expectation."""
        eq = {p.col: p.value for p in preds if p.op == "="}
        out: dict[tuple[int, str], str | None] = {}
        if not eq:
            return out
        murmur = self._bucket_hash_flavor() == "iceberg-murmur3"
        from pyspark.sql.types import StructType

        types = {
            f.name: f.dataType
            for f in StructType.fromDDL(self.meta.schema_ddl).fields
        }
        if murmur:
            from iceberg_workshop_spark.icetbl.bucketing import (
                UncoercibleLiteral,
                bucket_value,
                coerce_bucket_literal,
            )
        cache: dict[tuple[str, int], str | None] = {}
        for sid, spec in enumerate(self.meta.specs):
            for field in spec:
                t = field["transform"]
                if not (t.startswith("bucket[") and field["source"] in eq):
                    continue
                n = int(t[7:-1])
                key = (field["source"], n)
                if key not in cache:
                    if murmur:
                        # coerce the literal to the SOURCE column's
                        # type first (ADVICE r13: an ISO string on a
                        # date column or an int on a decimal column
                        # hashes different bytes than the write path
                        # and silently prunes matching files)
                        try:
                            lit = coerce_bucket_literal(
                                eq[field["source"]],
                                types[field["source"]].simpleString(),
                            )
                            cache[key] = str(bucket_value(lit, n))
                        except UncoercibleLiteral:
                            cache[key] = None
                    else:
                        lit = F.lit(eq[field["source"]]).cast(
                            types[field["source"]]
                        )
                        row = (
                            self.spark.range(1)
                            .select(
                                F.pmod(F.hash(lit), F.lit(n)).alias("b")
                            )
                            .first()
                        )
                        cache[key] = str(row["b"])
                out[(sid, field["name"])] = cache[key]
        return out

    def _prune_bucket(self, files: list[dict], preds: list[Pred]) -> list[dict]:
        """Bucket-transform pruning for one disjunct — expectations
        computed once driver-side, applied per file via the shared
        :func:`pruning.bucket_survives`."""
        from iceberg_workshop_spark.icetbl.pruning import bucket_survives

        if not files:
            return files
        exp = self._bucket_expectations(preds)
        if not exp:
            return files
        return [f for f in files if bucket_survives(f, exp)]

    def history(self) -> DataFrame:
        """The `.history` metadata table (A31): made_current_at,
        snapshot_id, parent_id, is_current_ancestor
        (/root/reference/README.md:353-362)."""
        ancestors = set()
        by_id = {s["snapshot_id"]: s for s in self.meta.snapshots}
        cur = self.meta.current_snapshot_id
        while cur is not None:
            ancestors.add(cur)
            cur = by_id[cur]["parent_id"] if cur in by_id else None
        rows = [
            (
                # tz-aware UTC instant (naive utcfromtimestamp would be
                # reinterpreted in the session timezone, shifting the
                # reported time on non-UTC sessions; also deprecated)
                datetime.fromtimestamp(
                    h["made_current_at_ms"] / 1000.0, tz=timezone.utc
                ),
                h["snapshot_id"],
                by_id[h["snapshot_id"]]["parent_id"] if h["snapshot_id"] in by_id else None,
                h["snapshot_id"] in ancestors,
            )
            for h in self.meta.doc.get("history_log", [])
        ]
        return self.spark.createDataFrame(
            rows,
            schema="made_current_at timestamp, snapshot_id long, parent_id long, is_current_ancestor boolean",
        )

    def snapshots_info(self) -> list[dict[str, Any]]:
        return [
            {k: s[k] for k in ("snapshot_id", "parent_id", "timestamp_ms", "operation")}
            | dict(zip(("n_files", "n_records"), self.meta.file_counts(s)))
            for s in self.meta.snapshots
        ]

    def changes(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental append scan (Iceberg's incremental read /
        `spark.read.option("start-snapshot-id", ...)`): the rows in
        data files added strictly AFTER ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default: current).

        This is the primitive that lets a downstream pipeline consume
        a 100 TB table incrementally — each sync reads only the new
        files (O(delta), never O(table)). Append-only semantics: a
        copy-on-write rewrite (compaction/DML) re-adds surviving rows;
        consumers that must distinguish logical inserts should sync
        from append snapshots only (exposed via `.history`/operation).
        """
        to_files = (
            self.meta.current_files()
            if to_snapshot_id is None
            else self.meta.files(self.meta.snapshot(to_snapshot_id))
        )
        from_paths = (
            set()
            if from_snapshot_id is None
            else {f["path"] for f in self.meta.files(self.meta.snapshot(from_snapshot_id))}
        )
        added = [f for f in to_files if f["path"] not in from_paths]
        return self._read_files(added)

    def changelog(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        identifier_columns: list[str] | None = None,
    ) -> DataFrame:
        """Net row-level changelog between two table states — the
        native analog of Iceberg's `CALL system.create_changelog_view`
        with ``net_changes=true``: full rows plus a ``_change_type``
        column in {'insert','delete'} (an UPDATE surfaces as the
        delete/insert pair, Iceberg's pre/post-update images).

        Scale contract: O(changed files), never O(table). A data file
        present in BOTH endpoint snapshots contributes identical rows
        to both sides of the diff, so only the symmetric difference of
        the file sets is read; rows a copy-on-write rewrite carried
        over unchanged cancel in the `exceptAll`, which is exactly the
        net-changes semantics. When the endpoints' merge-on-read
        delete-file sets differ (a MoR delete can flip visibility of
        rows in *unchanged* files), the affected unchanged files are
        added back after stats-based pruning against the differing
        delete files' key bounds — O(files whose key ranges intersect
        the deleted keys), the same bound Iceberg gets from manifest
        stats."""
        from_snap = (
            None
            if from_snapshot_id is None
            else self.meta.snapshot(from_snapshot_id)
        )
        to_snap = self._resolve_snapshot(None, to_snapshot_id)
        from_files = [] if from_snap is None else self.meta.files(from_snap)
        to_files = [] if to_snap is None else self.meta.files(to_snap)
        from_dels = [] if from_snap is None else self.meta.delete_entries(from_snap)
        to_dels = [] if to_snap is None else self.meta.delete_entries(to_snap)
        fp = {f["path"] for f in from_files}
        tp = {f["path"] for f in to_files}
        relevant = fp ^ tp

        # MoR delta: delete files present in only one endpoint can mask
        # rows in files common to both. Prune the common files by the
        # differing delete files' key bounds before reading them.
        def _del_key(d: dict) -> tuple:
            return (d["path"], int(d["dseq"]))

        d_from = {_del_key(d): d for d in from_dels}
        d_to = {_del_key(d): d for d in to_dels}
        diff_dels = [
            d
            for k, d in (d_from | d_to).items()
            if (k in d_from) != (k in d_to)
        ]
        if diff_dels:
            common = [f for f in from_files if f["path"] in (fp & tp)]
            spec_by_id = {i: s for i, s in enumerate(self.meta.specs)}
            # One bounds job per distinct key set (tables share one
            # equality key set in practice), not one per delete file:
            # sequential per-file .first() round-trips would dominate
            # changelog latency with many delete files.
            # Positional delete files name their targets outright:
            # the delete file's distinct file_path values ARE the
            # affected files — no stats pruning needed, exact by
            # construction.
            pos_diff = [d for d in diff_dels if d.get("kind") == "pos"]
            if pos_diff:
                hit_uris = {
                    r["file_path"]
                    for r in self.spark.read.parquet(
                        *[d["path"] for d in pos_diff]
                    )
                    .select("file_path")
                    .distinct()
                    .collect()
                }
                hit_paths = {
                    urllib.parse.unquote(urllib.parse.urlparse(u).path)
                    for u in hit_uris
                }
                relevant.update(
                    f["path"]
                    for f in from_files
                    if f["path"] in (fp & tp)
                    and os.path.abspath(f["path"]) in hit_paths
                )
            by_keys: dict[tuple, list[dict]] = {}
            for d in diff_dels:
                if d.get("kind") == "pos":
                    continue
                by_keys.setdefault(tuple(d["keys"]), []).append(d)
            for keys, dels in by_keys.items():
                bounds_rows = (
                    self.spark.read.parquet(*[d["path"] for d in dels])
                    .select(
                        F.col("_metadata.file_path").alias("__fp"),
                        *keys,
                    )
                    .groupBy("__fp")
                    .agg(
                        *[F.min(k).alias(f"mn_{k}") for k in keys],
                        *[F.max(k).alias(f"mx_{k}") for k in keys],
                    )
                    .collect()
                )
                by_path = {
                    urllib.parse.unquote(
                        urllib.parse.urlparse(r["__fp"]).path
                    ): r
                    for r in bounds_rows
                }
                for d in dels:
                    # a lookup miss degrades to unpruned-but-correct
                    bounds = by_path.get(os.path.abspath(d["path"]))
                    preds = (
                        [
                            Pred(
                                k,
                                "between",
                                (bounds[f"mn_{k}"], bounds[f"mx_{k}"]),
                            )
                            for k in keys
                            if bounds[f"mn_{k}"] is not None
                        ]
                        if bounds is not None
                        else []
                    )
                    affected = [
                        f
                        for f in common
                        if int(f.get("seq", 0)) < int(d["dseq"])
                    ]
                    if preds:
                        affected, _ = prune_files(
                            affected, spec_by_id, preds
                        )
                    relevant.update(f["path"] for f in affected)

        rows_from = self._apply_deletes(
            [f for f in from_files if f["path"] in relevant], from_dels
        )
        rows_to = self._apply_deletes(
            [f for f in to_files if f["path"] in relevant], to_dels
        )
        inserts = rows_to.exceptAll(rows_from).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = rows_from.exceptAll(rows_to).withColumn(
            "_change_type", F.lit("delete")
        )
        out = inserts.unionByName(deletes)
        if identifier_columns:
            # Iceberg's update-image pairing (create_changelog_view's
            # identifier_columns): a delete and an insert sharing the
            # row identity are the two halves of an UPDATE — relabel
            # them update_preimage/update_postimage. The semi-joins
            # shuffle only the delta, never the table.
            upd_keys = (
                inserts.select(*identifier_columns)
                .intersect(deletes.select(*identifier_columns))
            )
            # no broadcast hint: AQE broadcasts when the key set is
            # small; a huge merge delta stays a shuffled join
            flagged = out.join(
                upd_keys.withColumn("__upd", F.lit(1)),
                identifier_columns,
                "left",
            )
            out = flagged.select(
                *[c for c in out.columns if c != "_change_type"],
                F.when(
                    F.col("__upd").isNotNull(),
                    F.when(
                        F.col("_change_type") == "delete",
                        "update_preimage",
                    ).otherwise("update_postimage"),
                )
                .otherwise(F.col("_change_type"))
                .alias("_change_type"),
            )
        return out

    def cherrypick(self, snapshot_id: int) -> None:
        """`CALL system.cherrypick_snapshot`: apply one snapshot's file
        delta onto the CURRENT state as a new commit — the audit-then-
        publish path for a staged append (e.g. written on a branch)
        without moving history the way fast_forward does. Like
        Iceberg, only append-shaped snapshots are supported: a
        snapshot that removed files or changed merge-on-read deletes
        was planned against one specific base, and replaying it on a
        different base would need full conflict validation — raises
        ValueError (Iceberg's ValidationException)."""
        snap = self.meta.snapshot(snapshot_id)
        parent = snap["parent_id"]
        parent_snap = None if parent is None else self.meta.snapshot(parent)
        parent_paths = (
            set()
            if parent_snap is None
            else {f["path"] for f in self.meta.files(parent_snap)}
        )
        snap_paths = {f["path"] for f in self.meta.files(snap)}
        if not parent_paths <= snap_paths:
            raise ValueError(
                "cherrypick: snapshot removed files — only append "
                "snapshots can be cherry-picked"
            )
        parent_dels = (
            [] if parent_snap is None else self.meta.delete_entries(parent_snap)
        )
        if self.meta.delete_entries(snap) != parent_dels:
            raise ValueError(
                "cherrypick: snapshot changed delete files — only "
                "append snapshots can be cherry-picked"
            )
        # Strip the staged files' sequence number: the cherry-picked
        # COMMIT is new, so its files take the new commit's sequence
        # (Iceberg behavior). Keeping the branch-era seq would let a
        # MoR equality delete committed on main AFTER the fork (dseq >
        # staged seq) silently swallow the just-published rows.
        delta = [
            {k: v for k, v in f.items() if k != "seq"}
            for f in self.meta.files(snap)
            if f["path"] not in parent_paths
        ]

        def with_delta(m: M.TableMeta) -> list[dict]:
            cur = list(m.current_files())
            have = {f["path"] for f in cur}
            return cur + [f for f in delta if f["path"] not in have]

        self._commit_snapshot(
            with_delta(self.meta), "cherrypick", rebase=with_delta
        )

    def rollback(self, snapshot_id: int) -> None:
        """A21: re-point current to an existing snapshot (history kept)."""

        def mutate(meta: M.TableMeta) -> None:
            meta.snapshot(snapshot_id)  # validate
            meta.doc["current_snapshot_id"] = snapshot_id
            meta.doc.setdefault("history_log", []).append(
                {"made_current_at_ms": M.now_ms(), "snapshot_id": snapshot_id}
            )

        self._retry_commit(mutate)


def _dnf_to_column(dnf: list[list[Pred]]) -> F.Column:
    """OR-of-AND filter for a DNF predicate list. An empty disjunct is
    TRUE (that OR branch was un-analyzable — no row constraint)."""
    disjuncts = []
    for d in dnf:
        c = F.lit(True)
        for p in d:
            c = c & _pred_to_column(p)
        disjuncts.append(c)
    out = disjuncts[0]
    for c in disjuncts[1:]:
        out = out | c
    return out


def _pred_to_column(p: Pred) -> F.Column:
    c = F.col(p.col)
    v = p.value

    def lit(x: Any) -> F.Column:
        if isinstance(x, datetime):
            return F.lit(x.isoformat(sep=" ")).cast("timestamp")
        return F.lit(x)

    if p.op == "=":
        return c == lit(v)
    if p.op == "<":
        return c < lit(v)
    if p.op == "<=":
        return c <= lit(v)
    if p.op == ">":
        return c > lit(v)
    if p.op == ">=":
        return c >= lit(v)
    if p.op == "between":
        return c.between(lit(v[0]), lit(v[1]))
    raise ValueError(p.op)
