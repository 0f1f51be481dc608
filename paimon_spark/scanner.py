"""Scan planning: snapshot resolution → manifest replay → pruning → splits.

Mirrors the reference's scan pipeline
(ref: paimon-core/.../table/source/snapshot/SnapshotReaderImpl.java:406-417,
 paimon-core/.../operation/AbstractFileStoreScan.java):
resolve snapshot (time travel / tag) → live file entries → partition
pruning → bucket pruning (point lookups) → per-file stats skipping →
group into raw vs merge-required splits.

All pruning is driver-side metadata work on O(#files) entries; the data
read that follows is a single declarative `spark.read.parquet(files)` that
Catalyst further prunes (row groups, pages) with the same predicate.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any

from pyspark.sql import types as T
from pyspark.sql import functions as F

from paimon_spark.metadata import FileEntry, Snapshot, TablePaths
from paimon_spark.predicates import And, Leaf, Predicate
from paimon_spark.schema import BUCKET_COL, TableSchema

if TYPE_CHECKING:
    from paimon_spark.table import Table


def _intersect_ranges(a: list[tuple[int, int]],
                      b: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Intersection of two sorted, merged [start,end) range lists."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] <= b[j][1]:
            i += 1
        else:
            j += 1
    return out


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)
# partition-key types cast_partition_value returns as typed python
# values; any other type (timestamp, decimal, ...) comes back as the raw
# path string
TYPED_PARTITION_TYPES = _INT_TYPES + _FLOAT_TYPES + (
    T.DateType, T.BooleanType, T.StringType)


def cast_partition_value(raw: str | None, dtype: T.DataType) -> Any:
    """Hive-path string → typed python value for pruning."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dtype, _INT_TYPES):
        return int(raw)
    if isinstance(dtype, _FLOAT_TYPES):
        return float(raw)
    if isinstance(dtype, T.DateType):
        return dt.date.fromisoformat(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    return raw


@dataclass
class ScanPlan:
    snapshot: Snapshot | None
    entries: list[FileEntry]           # surviving ADD entries
    raw_groups: list[list[FileEntry]]  # groups readable without merge
    merge_groups: list[list[FileEntry]]  # (partition,bucket) groups needing merge
    files_skipped: int = 0
    # file basename -> merged [start,end) row ranges that can satisfy the
    # predicate's eq/IN conjuncts (bitmap position index; sub-file pruning
    # via _metadata.row_index — ref: fileindex/bitmap/BitmapFileIndex.java)
    row_ranges: dict[str, list[tuple[int, int]]] | None = None

    @property
    def files(self) -> list[FileEntry]:
        return self.entries

    def explain(self) -> str:
        """Human-readable scan-plan rendering (≈ pypaimon's
        read/explain.py): snapshot, pruning effect, split shapes —
        the engine-side half of what `.explain("formatted")` shows for
        the Spark half of the plan."""
        lines = [
            f"snapshot: "
            f"{self.snapshot.id if self.snapshot else None}",
            f"files: {len(self.entries)} scanned, "
            f"{self.files_skipped} pruned "
            f"(manifest partition/stat/bucket pruning)",
            f"rows(upper bound): {self.row_count_upper_bound()}",
            f"raw groups (merge-free read): {len(self.raw_groups)} "
            f"[{sum(len(g) for g in self.raw_groups)} files]",
            f"merge groups (sorted-run merge): "
            f"{len(self.merge_groups)} "
            f"[{sum(len(g) for g in self.merge_groups)} files]",
        ]
        if self.row_ranges:
            n = sum(len(v) for v in self.row_ranges.values())
            lines.append(f"bitmap row-ranges: {n} ranges over "
                         f"{len(self.row_ranges)} files")
        parts = sorted({json.dumps(e.partition, sort_keys=True)
                        for e in self.entries})
        if parts and parts != ["{}"]:
            shown = ", ".join(parts[:8])
            more = f" … +{len(parts) - 8}" if len(parts) > 8 else ""
            lines.append(f"partitions: {len(parts)} ({shown}{more})")
        return "\n".join(lines)

    def row_count_upper_bound(self) -> int:
        return sum(e.row_count for e in self.entries)


class Scanner:
    def __init__(self, table: "Table"):
        self.table = table
        self.paths: TablePaths = table.paths
        self.schema: TableSchema = table.schema

    # ---------------- snapshot resolution (time travel) ----------------
    # ref: SparkCatalog.java:315,333 (VERSION/TIMESTAMP AS OF),
    #      CoreOptions scan.snapshot-id :1227 / scan.tag-name :1234

    def resolve_snapshot(self, snapshot_id: int | None = None, tag: str | None = None,
                         as_of_timestamp_ms: int | None = None,
                         watermark: int | None = None) -> Snapshot | None:
        if tag is not None:
            snapshot_id = self.paths.read_tag(tag)
        if snapshot_id is not None:
            return self.paths.read_snapshot(snapshot_id)
        if watermark is not None:
            # earliest snapshot whose watermark has passed the requested one
            # — O(log n) binary search, watermarks are monotone in id
            # (ref: scan.watermark CoreOptions.java:1203; SnapshotManager)
            return self.paths.snapshot_for_watermark(watermark)
        if as_of_timestamp_ms is not None:
            # timestamps are monotone in id → binary search instead of a
            # linear read of every retained snapshot (10^5 at scale)
            return self.paths.snapshot_earlier_or_equal_ts(as_of_timestamp_ms)
        return self.paths.latest_snapshot()

    # ---------------- planning ----------------

    def plan(self, predicate: Predicate | None = None,
             snapshot_id: int | None = None, tag: str | None = None,
             as_of_timestamp_ms: int | None = None,
             limit: int | None = None,
             watermark: int | None = None) -> ScanPlan:
        snap = self.resolve_snapshot(snapshot_id, tag, as_of_timestamp_ms, watermark)
        if snap is None:
            return ScanPlan(None, [], [], [])
        entries, pre_pruned = self._live_entries(snap, predicate)
        if self.schema.num_buckets == -2:
            # postpone tables: unbucketed (-2) writes are invisible until
            # compaction assigns buckets (ref: BucketMode POSTPONE_MODE)
            entries = [e for e in entries if e.bucket != -2]
        total = len(entries) + pre_pruned

        if predicate is not None:
            if not self.schema.is_pk_table:
                entries = [e for e in entries
                           if self._may_match(e, predicate)]
            else:
                # PK tables: per-FILE skipping may only use conjuncts over
                # key/partition columns — a value-column predicate could
                # skip the newest version of a key while an older file in
                # the same merge group still matches, resurrecting the
                # stale row (ref: KeyValueFileStoreScan key vs value
                # filter split). Value conjuncts prune at merge-GROUP
                # granularity below, and only for row-survivor engines.
                safe = (set(self.schema.trimmed_primary_keys)
                        | set(self.schema.partition_keys))
                from paimon_spark.table import Table as _T
                key_pred = _T._partition_safe_conjuncts(predicate, safe)
                if key_pred is not None:
                    entries = [e for e in entries
                               if self._may_match(e, key_pred)]
                if self.schema.merge_engine in ("deduplicate", "first-row"):
                    # merged row = ONE input row, so if no file of a
                    # (partition,bucket) group can match, no survivor can
                    groups: dict[tuple, list[FileEntry]] = {}
                    for e in entries:
                        groups.setdefault(
                            (tuple(sorted(e.partition.items())), e.bucket),
                            []).append(e)
                    entries = [e for g in groups.values()
                               if any(self._may_match(x, predicate)
                                      for x in g)
                               for e in g]

        entries = self._prune_buckets(entries, predicate)

        if self.schema.is_pk_table:
            groups: dict[tuple, list[FileEntry]] = {}
            for e in entries:
                groups.setdefault((tuple(sorted(e.partition.items())), e.bucket), []).append(e)
            raw_groups, merge_groups = [], []
            for g in groups.values():
                # rawConvertible (ref: DataSplit rawConvertible /
                # ReadOptimizedTable): a single fully-compacted file is
                # guaranteed one-row-per-key with no pending merges; L0
                # sorted runs may hold intra-commit duplicates and must go
                # through the merge path even when alone. Cross-partition
                # tables (partition ⊄ PK) never raw-convert: a key's latest
                # row may live in ANOTHER partition's files, so bypassing
                # the global merge would resurrect stale rows.
                if (len(g) == 1 and all(e.level >= 5 for e in g)
                        and not self.schema.cross_partition_update):
                    raw_groups.append(g)
                else:
                    merge_groups.append(g)
        else:
            raw_groups, merge_groups = [entries], []
            # limit pushdown: stop listing once row bound reached
            # (ref: ReadBuilder.withLimit ReadBuilder.java:136)
            if limit is not None:
                acc, picked = 0, []
                for e in entries:
                    picked.append(e)
                    acc += e.row_count
                    if acc >= limit and predicate is None:
                        break
                entries, raw_groups = picked, [picked]

        return ScanPlan(snap, entries, raw_groups, merge_groups,
                        files_skipped=total - len(entries),
                        row_ranges=self._row_ranges(entries, predicate))

    def _row_ranges(self, entries: list[FileEntry],
                    predicate: Predicate | None
                    ) -> dict[str, list[tuple[int, int]]] | None:
        """Sub-file pruning from bitmap POSITION indexes: for each
        surviving file whose sidecar kept per-value row runs, intersect
        the predicate's top-level eq/IN conjuncts into merged
        [start, end) row ranges. The reader turns these into
        `_metadata.row_index` filters, so of a huge unsorted file only
        the matching runs flow into the query
        (ref: fileindex/bitmap/BitmapFileIndex.java roaring positions).
        Append tables only — PK merge groups must see every version of a
        key (and the residual filter re-applies the predicate anyway, so
        ranges only ever need to be a superset of matching rows)."""
        if predicate is None or self.schema.is_pk_table or not entries:
            return None
        conj: list[tuple[str, list]] = []

        def walk(p: Predicate):
            if isinstance(p, Leaf) and p.op == "eq":
                conj.append((p.field, [p.literal]))
            elif isinstance(p, Leaf) and p.op == "in":
                conj.append((p.field, list(p.literal)))
            elif isinstance(p, And):
                for c in p.children:
                    walk(c)
        walk(predicate)
        if not conj:
            return None
        defaulted = {k[len("fields."):-len(".default-value")]
                     for k in self.schema.options
                     if k.startswith("fields.")
                     and k.endswith(".default-value")}
        conj = [(f, v) for f, v in conj if f not in defaulted]
        if not conj:
            return None
        from paimon_spark.fileindex import make_lookup
        out: dict[str, list[tuple[int, int]]] = {}
        for e in entries:
            if not e.index_path or e.dv_path:
                continue
            lk = make_lookup(self.paths.root, e.index_path)
            rngs = None
            for field, vals in conj:
                r = lk.ranges(field, vals)
                if r is None:
                    continue
                rngs = r if rngs is None else _intersect_ranges(rngs, r)
            if rngs is None:
                continue
            covered = sum(b - a for a, b in rngs)
            # only worth an expression when it actually drops rows, and
            # bounded so the filter expression stays small
            if covered >= e.row_count or len(rngs) > 64:
                continue
            out[os.path.basename(e.file_path)] = rngs
            if len(out) >= 32:
                break
        return out or None

    def _live_entries(self, snap: Snapshot,
                      predicate: Predicate | None) -> tuple[list[FileEntry], int]:
        """Live entries for the snapshot, plus how many were already pruned.

        Serial path: driver replays cached manifests (fast up to ~1e5 files).
        Distributed path: when a table has accumulated many parquet-format
        manifests (scan.manifest.distributed-threshold), Spark itself reads
        them — manifest parse + ADD/DELETE replay + partition pruning run on
        executors, and only surviving entries are collected. That keeps plan
        memory/time O(matching files), the property that makes a 1e6-file /
        100 TB table plannable (ref: AbstractFileStoreScan parallel manifest
        readers; SNIPPETS Iceberg ManifestGroup.planWith).
        """
        threshold = int(self.schema.options.get(
            "scan.manifest.distributed-threshold", "64"))
        spark = self.table.spark
        if (spark is None or len(snap.manifests) < threshold
                or not all(m.endswith(".parquet") for m in snap.manifests)):
            return self.paths.live_entries(snap), 0
        return self._live_entries_spark(spark, snap, predicate)

    def _live_entries_spark(self, spark, snap: Snapshot,
                            predicate: Predicate | None) -> tuple[list[FileEntry], int]:
        from pyspark.sql import Window
        from paimon_spark.metadata import manifest_row_to_entry

        files = [self.paths.manifest_file(m) for m in snap.manifests]
        order = spark.createDataFrame(
            [(m, i) for i, m in enumerate(snap.manifests)],
            "__mf string, __m_idx long")
        df = (spark.read.parquet(*files)
              .withColumn("__mf", F.element_at(
                  F.split(F.col("_metadata.file_path"), "/"), -1))
              .join(F.broadcast(order), "__mf"))
        # last manifest wins per (partition, bucket, file); DELETE cancels
        w = Window.partitionBy("partition_json", "bucket", "file_path") \
                  .orderBy(F.desc("__m_idx"))
        live = (df.withColumn("__rn", F.row_number().over(w))
                .filter((F.col("__rn") == 1) & (F.col("kind") == "ADD"))
                .drop("__rn", "__mf", "__m_idx"))
        live = live.cache()
        try:
            n_live = live.count()
            pruned = live
            pkeys = self.schema.partition_keys
            if predicate is not None and pkeys:
                from paimon_spark.table import Table
                conj = Table._partition_safe_conjuncts(predicate, set(pkeys))
                if conj is not None:
                    pm = F.from_json(F.col("partition_json"),
                                     T.MapType(T.StringType(), T.StringType()))
                    for k in pkeys:
                        pruned = pruned.withColumn(
                            k, F.element_at(pm, k).cast(self.schema.data_type(k)))
                    pruned = pruned.filter(conj.to_spark()).drop(*pkeys)
            rows = pruned.collect()
        finally:
            live.unpersist()
        entries = [manifest_row_to_entry(
            r.kind, r.partition_json, r.bucket, r.level, r.file_path,
            r.row_count, r.file_size, r.min_seq, r.max_seq, r.schema_id,
            r.stats_json, r.dv_path, r.dv_count, r.index_path,
            getattr(r, "first_row_id", None)) for r in rows]
        return entries, n_live - len(entries)

    def _may_match(self, e: FileEntry, pred: Predicate) -> bool:
        part_values = {
            k: cast_partition_value(e.partition.get(k), self.schema.data_type(k))
            for k in self.schema.partition_keys
        }
        if not pred.test_partition(part_values):
            return False
        # columns with a read-time default: stored nulls will be rewritten
        # to the default, so stats/indexes over stored values must not prune
        defaulted = {k[len("fields."):-len(".default-value")]
                     for k in self.schema.options
                     if k.startswith("fields.") and k.endswith(".default-value")}
        stats = {c: s for c, s in e.stats.items() if c not in defaulted} \
            if defaulted else e.stats
        if not pred.test_stats(e.row_count, stats):
            return False
        if e.index_path and not (defaulted & pred.refs()):
            from paimon_spark.fileindex import make_lookup
            return pred.test_file_index(make_lookup(self.paths.root, e.index_path))
        return True

    def _prune_buckets(self, entries: list[FileEntry], pred: Predicate | None) -> list[FileEntry]:
        """Point-lookup optimization: equality on ALL bucket keys pins one
        bucket → prune the rest. (ref: bucket filter push in
        AbstractFileStoreScan / LocalTableQuery.java:226-262 semantics)"""
        n = self.schema.num_buckets
        keys = self.schema.bucket_keys
        if n <= 0 or not keys or pred is None:
            return entries
        eqs: dict[str, Any] = {}
        def walk(p: Predicate):
            if isinstance(p, Leaf) and p.op == "eq":
                eqs[p.field] = p.literal
            elif isinstance(p, And):
                for c in p.children:
                    walk(c)
        walk(pred)
        if not all(k in eqs for k in keys):
            return entries
        # driver-side Spark-parity xxhash64 (functions/sparkhash.py) —
        # computing one bucket hash must not cost a Spark JOB (~50 ms of
        # pure scheduling per point lookup)
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            from paimon_spark.functions.sparkhash import (
                bucket_of, supported_bucket_type)
            fields = [T.StructField(k, self.schema.data_type(k))
                      for k in keys]
            if all(supported_bucket_type(f.dataType) for f in fields):
                arrow = to_arrow_schema(T.StructType(fields))
                tbl = pa.Table.from_arrays(
                    [pa.array([eqs[k]], type=arrow.field(k).type)
                     for k in keys], names=list(keys))
                target = int(bucket_of(tbl, fields, list(keys), n,
                                       self.schema.bucket_hash)[0])
                return [e for e in entries if e.bucket in (target, -1)]
        except Exception:
            pass   # literal/type mismatch → Spark-evaluated fallback
        spark = self.table.spark
        if spark is None:
            return entries
        hfn = F.hash if self.schema.bucket_hash == "murmur3" else F.xxhash64
        row = spark.range(1).select(
            F.pmod(hfn(*[F.lit(eqs[k]).cast(self.schema.data_type(k)) for k in keys]),
                   F.lit(n)).cast("int").alias("b")).collect()
        target = row[0]["b"]
        return [e for e in entries if e.bucket in (target, -1)]

    # ---------------- metadata-only aggregates ----------------
    # ref: paimon-spark/.../aggregate/AggregatePushDownUtils.scala:50-108 —
    # only safe when no delete rows / DVs exist (we require append table
    # or fully-compacted single-run PK buckets with no -D rows).

    def plan_topn(self, col: str, n: int, descending: bool = True,
                  predicate: Predicate | None = None) -> ScanPlan:
        """TopN-aware planning (ref: PaimonScanBuilder.scala:44-89 pushTopN,
        predicate/TopN.java): order candidate files by their min/max stats
        for the sort column and stop once the kept files are guaranteed to
        contain the global top-n.

        Only exact for append tables (no delete/merge rows). A file can be
        dropped when n rows have already been found in files whose WORST
        value (min for desc) still beats the candidate's BEST value (max
        for desc)."""
        plan = self.plan(predicate)
        if self.schema.is_pk_table or not plan.entries:
            return plan

        def best(e): return e.stats.get(col, {}).get("max" if descending else "min")
        def worst(e): return e.stats.get(col, {}).get("min" if descending else "max")

        if any(best(e) is None or worst(e) is None for e in plan.entries):
            return plan
        ordered = sorted(plan.entries, key=lambda e: best(e), reverse=descending)
        kept: list[FileEntry] = []
        for e in ordered:
            # skip e iff kept files already guarantee >= n rows that are all
            # at least as extreme as anything in e
            guaranteed = sum(
                f.row_count for f in kept
                if (descending and worst(f) >= best(e))
                or (not descending and worst(f) <= best(e)))
            if guaranteed >= n:
                continue
            kept.append(e)
        skipped = plan.files_skipped + (len(plan.entries) - len(kept))
        return ScanPlan(plan.snapshot, kept, [kept], [], files_skipped=skipped)

    def metadata_count(self, predicate: Predicate | None = None) -> int | None:
        if self.schema.is_pk_table:
            return None
        plan = self.plan()
        from paimon_spark.table import Table
        if any(Table._is_patch_entry(e) for e in plan.entries):
            return None   # data-evolution patch rows are not table rows
        if predicate is not None:
            # only exact if predicate is partition-only (file sets align)
            if not predicate.partition_only(self.schema.partition_keys):
                return None
            plan_entries = [e for e in plan.entries if self._may_match(e, predicate)]
            return sum(e.row_count - e.dv_count for e in plan_entries)
        return sum(e.row_count - e.dv_count for e in plan.entries)

    def metadata_min_max(self, col: str) -> tuple[Any, Any] | None:
        if self.schema.is_pk_table:
            return None
        plan = self.plan()
        from paimon_spark.table import Table
        if any(Table._is_patch_entry(e) for e in plan.entries):
            return None  # patched values make base stats stale
        if any(e.dv_count for e in plan.entries):
            return None  # a deleted row may have held the extreme (DvAwareStats)
        mns = [e.stats.get(col, {}).get("min") for e in plan.entries]
        mxs = [e.stats.get(col, {}).get("max") for e in plan.entries]
        if not plan.entries or any(v is None for v in mns) or any(v is None for v in mxs):
            return None
        return min(mns), max(mxs)
