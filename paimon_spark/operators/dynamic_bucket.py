"""Dynamic bucket assignment: keys keep their bucket via a persistent
pk→bucket index; new keys are assigned as the table grows.

(ref: paimon-core/.../index/HashBucketAssigner.java (179),
 DynamicBucketIndexMaintainer.java, sink/DynamicBucketRowKeyExtractor.java;
 option 'dynamic-bucket.target-row-count' CoreOptions)

Spark-first shape: the index is itself a parquet table under
<table>/index/; assignment is one left join shuffled on the key — the
index has one row per KEY, so at 10^8-10^9 keys it must NOT be forced
into a broadcast (AQE still picks broadcast-hash when the index is
actually small). New keys SEQUENTIALLY FILL buckets exactly like the
reference's HashBucketAssigner (r9; previously hash-into-n, the one
documented W2 divergence): key number existing+i goes to bucket
(existing+i)//target, so bucket 0 fills to target-row-count, then
bucket 1 opens, etc. — existing keys never move (the index pins them).
The global key numbering is a two-level distributed rank (static
hash-top-bit slices + driver-side slice offsets), so assignment
parallelism is decoupled from batch size — no single-reducer window. With
`dynamic-bucket.max-buckets` set, keys past the cap hash into the
existing bucket range (ref CoreOptions max-buckets overflow).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, functions as F

from paimon_spark.schema import BUCKET_COL, TableSchema

DEFAULT_TARGET_ROWS = 2_000_000
CONSOLIDATE_FILES = 64


def index_dir(table_path: str) -> str:
    return os.path.join(table_path, "index")


def _count_file(table_path: str) -> str:
    return os.path.join(index_dir(table_path), ".key-count")


def _load_count(table_path: str) -> int | None:
    try:
        with open(_count_file(table_path)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _save_count(table_path: str, n: int) -> None:
    tmp = _count_file(table_path) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(n))
    os.replace(tmp, _count_file(table_path))


def _footer_rows(directory: str) -> int:
    """Sum parquet row counts from footers — driver-side metadata reads,
    no Spark job."""
    import pyarrow.parquet as pq
    total = 0
    for fn in os.listdir(directory):
        if fn.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(directory, fn)) \
                       .metadata.num_rows
    return total


def _index_schema(schema: TableSchema):
    """Static schema of the index dataset (trimmed pk columns +
    __bucket): passing it to the reader skips the parquet
    schema-inference Spark job that spark.read.parquet(dir) runs on
    EVERY append (r14 — measured 2 of the ~14 jobs a small
    dynamic-bucket append paid were pure schema sniffing)."""
    from pyspark.sql import types as T
    fields = [T.StructField(f.name, f.dataType, True)
              for f in schema.struct.fields
              if f.name in set(schema.trimmed_primary_keys)]
    return T.StructType(fields + [T.StructField(BUCKET_COL,
                                                T.IntegerType(), True)])


def load_index(spark, table_path: str, schema: TableSchema) -> DataFrame | None:
    d = index_dir(table_path)
    if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)):
        return None
    return spark.read.schema(_index_schema(schema)).parquet(d)


def assign_buckets(spark, table_path: str, schema: TableSchema,
                   df: DataFrame) -> DataFrame:
    """Return df + __bucket column; persists new-key assignments.

    Maintenance (r3 verdict #4): the key count lives in a .key-count
    sidecar (no full index count job per write), and the append-only
    index dataset consolidates past CONSOLIDATE_FILES files — same
    policy as the cross-partition global index — so after 10^4 commits
    the index read is a bounded scan, not 10^4 small files."""
    keys = schema.trimmed_primary_keys
    target = int(schema.options.get("dynamic-bucket.target-row-count",
                                    str(DEFAULT_TARGET_ROWS)))
    max_buckets = int(schema.options.get("dynamic-bucket.max-buckets",
                                         "-1"))
    d = index_dir(table_path)
    # consolidate BEFORE loading: the DataFrame this call returns stays
    # lazy in the caller (stage/commit executes it later), so deleting
    # index files after load_index would break that pending plan
    files_cap = int(schema.options.get(
        "dynamic-bucket.index-consolidate-files", str(CONSOLIDATE_FILES)))
    _maybe_consolidate(spark, table_path, files_cap)
    idx = load_index(spark, table_path, schema)
    if idx is None:
        existing = 0
        joined = df.withColumn(BUCKET_COL, F.lit(None).cast("int"))
        new_only = df.select(*keys).distinct()
    else:
        existing = _load_count(table_path)
        if existing is None:          # pre-sidecar index: count once
            existing = idx.count()
        joined = df.join(idx, keys, "left")
        new_only = (df.select(*keys).distinct()
                    .join(idx.select(*keys), keys, "left_anti"))
    # persist the new-key set: _sequential_fill's slice-count collect
    # and the index write below are two executions of this subtree
    # (distinct + anti-join) — caching it executes it once, drops ~2
    # AQE stage-jobs per append, and pins the exact row set both
    # executions see (belt to the drift guard's suspenders)
    new_only = new_only.persist()
    try:
        adopted, added = _small_batch_fill(
            spark, d, new_only, keys, schema, existing, target,
            max_buckets)
        if adopted is None:
            adopted, added = _distributed_fill(
                d, new_only, keys, existing, target, max_buckets)
    finally:
        new_only.unpersist()
    _save_count(table_path, existing + added)
    # r13: join against the JUST-WRITTEN index files, not the rank
    # plan — the returned DataFrame stays lazy in the caller, and
    # reusing the plan would re-execute the whole distributed rank a
    # second time at stage/commit (the written files are its result)
    if added and adopted:
        new_idx = spark.read.schema(_index_schema(schema)) \
            .parquet(*adopted)
    else:
        new_idx = spark.createDataFrame([], _index_schema(schema))
    assigned = (joined.join(new_idx.withColumnRenamed(BUCKET_COL,
                                                      "__nb"),
                            keys, "left")
                .withColumn(BUCKET_COL,
                            F.coalesce(F.col(BUCKET_COL), F.col("__nb"))
                            .cast("int"))
                .drop("__nb"))
    return assigned


_RANK_SLICES = 64
SMALL_FILL_ROWS = 4096


def _py_sort_key_ok(schema: TableSchema, keys: list[str]) -> bool:
    """True iff Python tuple ordering of collected key values provably
    matches Spark's orderBy on those columns: integrals, strings
    (compared as UTF-8 bytes — code-point order, same as Spark's binary
    compare), booleans, dates, zone-less timestamps, decimals, binary.
    Float and double keys are excluded (Spark orders NaN largest; Python
    NaN comparisons are unordered), and so is TimestampType: collect()
    returns it as a naive datetime in the DRIVER's local zone, which
    neither orders like the UTC instant across a DST fold nor
    round-trips through the index's UTC arrow field."""
    from pyspark.sql import types as T
    ok = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
          T.StringType, T.BooleanType, T.DateType, T.TimestampNTZType,
          T.DecimalType, T.BinaryType)
    return all(isinstance(schema.data_type(k), ok) for k in keys)


def _small_batch_fill(spark, d: str, new_only: DataFrame,
                      keys: list[str], schema: TableSchema,
                      existing: int, target: int,
                      max_buckets: int):
    """Driver-side sequential fill for SMALL new-key batches (r14,
    guide §5 — metadata-sized work should not pay Spark jobs): one
    limit-probed collect of (keys, xxhash64) replaces the slice-count
    job AND the distributed rank write — per tiny append that is 2-3
    fewer Spark jobs, the steady-state shape of a per-commit upsert
    stream. The hash comes FROM Spark (identical xxhash64), the sort is
    the same total order ((__h, keys) — key types gated by
    _py_sort_key_ok), and the arithmetic (existing+i)//target with
    pmod overflow is integer-exact, so assignments are bit-identical
    to the distributed path. Returns (adopted, added), or (None, None)
    to fall back when the batch exceeds SMALL_FILL_ROWS, a key type is
    not order-safe, or a key is NULL."""
    if not _py_sort_key_ok(schema, keys):
        return None, None
    nk = new_only.withColumn(
        "__h", F.xxhash64(*[F.col(k) for k in keys]))
    rows = nk.limit(SMALL_FILL_ROWS + 1).collect()
    if len(rows) > SMALL_FILL_ROWS:
        return None, None                      # big batch: distributed
    if not rows:
        return [], 0

    def norm(v):
        return v.encode("utf-8") if isinstance(v, str) else v

    vals = []
    for r in rows:
        kv = tuple(r[k] for k in keys)
        if any(v is None for v in kv):
            return None, None                  # NULL key: fall back
        vals.append((r["__h"], kv))
    vals.sort(key=lambda hv: (hv[0], tuple(norm(v) for v in hv[1])))
    out_rows = []
    for i, (h, kv) in enumerate(vals):
        b = (existing + i) // target
        if max_buckets and max_buckets > 0 and b >= max_buckets:
            b = h % max_buckets                # == pmod(__h, max_buckets)
        out_rows.append(dict(zip(keys, kv), **{BUCKET_COL: b}))
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow_schema = to_arrow_schema(_index_schema(schema))
    tbl = pa.Table.from_pylist(out_rows, schema=arrow_schema)
    os.makedirs(d, exist_ok=True)
    dest = os.path.join(d, f"idx-{uuid.uuid4().hex}.parquet")
    tmp = dest + ".tmp"
    pq.write_table(tbl, tmp)
    os.rename(tmp, dest)
    return [dest], len(out_rows)


def _distributed_fill(d: str, new_only: DataFrame, keys: list[str],
                      existing: int, target: int,
                      max_buckets: int):
    """The distributed rank + staged parquet write (the pre-r14 path,
    unchanged): used for large batches and order-unsafe key types."""
    new_keys, expected_new = _sequential_fill(new_only, keys,
                                              existing, target,
                                              max_buckets)
    # persist assignments for keys not yet in the index: write to a
    # tmp dataset first so the new-key count comes from parquet
    # footers (driver metadata only), then adopt the files
    os.makedirs(d, exist_ok=True)
    staging = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    new_keys.write.parquet(staging)
    added = _footer_rows(staging)
    if added != expected_new:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"dynamic-bucket rank drifted between the slice-count job "
            f"({expected_new} new keys) and the index write "
            f"({added}): the input plan is non-deterministic across "
            f"executions — materialize it (persist/localCheckpoint) "
            f"before assign_buckets")
    adopted = []
    for fn in os.listdir(staging):
        if fn.endswith(".parquet"):
            dest = os.path.join(d, f"idx-{uuid.uuid4().hex}.parquet")
            os.rename(os.path.join(staging, fn), dest)
            adopted.append(dest)
    shutil.rmtree(staging, ignore_errors=True)
    return adopted, added


def _sequential_fill(new_keys_df: DataFrame, keys: list[str],
                     existing: int, target: int,
                     max_buckets: int) -> tuple[DataFrame, int]:
    """(keys..., __bucket) for NEW keys via the reference's sequential
    fill: the i-th new key overall (0-based global number existing+i)
    lands in bucket (existing+i)//target, so buckets fill to
    target-row-count in order (ref: HashBucketAssigner.assign loop).
    The global numbering orders by (xxhash64(keys), keys) — a total
    order, so the assignment is deterministic for any partitioning.

    r13 (guide §2.4): the rank exploits that the leading order column
    IS a uniform 64-bit hash — slicing on its top 6 bits gives
    statically balanced, order-contiguous slices, so the
    repartitionByRange SAMPLING job, the offsets window, and the
    broadcast join of the previous dist_cumsum shape all disappear.
    One tiny groupBy(slice).count() (≤ 64 rows collected — metadata-
    sized at any table/batch scale) yields driver-side slice offsets;
    the rank itself is one hash exchange + per-slice sort. Values are
    bit-identical to the dist_cumsum version (same total order, same
    arithmetic). Keys past `max_buckets` (when ≥ 1) hash into the
    capped range instead."""
    from pyspark.sql import Window
    nk = new_keys_df.withColumn(
        "__h", F.xxhash64(*[F.col(k) for k in keys]))
    # arithmetic shift keeps the slice id monotone in the SIGNED hash
    # order (negative hashes → slices 0..31), so (slice, __h, keys)
    # sorts exactly like (__h, keys)
    nk = nk.withColumn(
        "__slice", (F.shiftright(F.col("__h"), 58) + F.lit(32))
        .cast("int"))
    cnt = {r["__slice"]: r["n"] for r in
           nk.groupBy("__slice").agg(F.count("*").alias("n")).collect()}
    offs, acc = [], 0
    for s in range(_RANK_SLICES):
        offs.append(acc)
        acc += cnt.get(s, 0)

    off = F.element_at(F.array(*[F.lit(o).cast("long") for o in offs]),
                       F.col("__slice") + 1)
    w = Window.partitionBy("__slice").orderBy("__h", *keys)
    ranked = nk.withColumn("__rn", F.row_number().over(w).cast("long"))
    num = F.lit(existing) + off + F.col("__rn") - 1  # 0-based global no.
    b = F.floor(num / F.lit(target))
    if max_buckets and max_buckets > 0:
        b = F.when(b >= max_buckets,
                   F.pmod(F.col("__h"), F.lit(max_buckets))).otherwise(b)
    # also return the collect-time total: the slice counts (this job)
    # and the rank window (executed by the caller's index write) are two
    # executions of the same plan; a non-deterministic input would
    # silently misalign them (ADVICE r13) — the caller cross-checks the
    # written row count against this total, a driver-only invariant with
    # zero extra Spark jobs.
    return ranked.select(*keys, b.cast("int").alias(BUCKET_COL)), acc


def _maybe_consolidate(spark, table_path: str,
                       files_cap: int = CONSOLIDATE_FILES) -> None:
    """Rewrite the index dataset into a bounded file set once the
    append-only tail grows past the cap (default CONSOLIDATE_FILES,
    per-table override `dynamic-bucket.index-consolidate-files` —
    commit cadence varies by deployment; single-logical-writer
    assumption, same as the cross-partition index consolidation at
    cross_partition.py)."""
    d = index_dir(table_path)
    if not os.path.isdir(d):
        return
    old = [f for f in os.listdir(d) if f.endswith(".parquet")]
    if len(old) <= files_cap:
        return
    cur = spark.read.parquet(*[os.path.join(d, f) for f in old])
    tmp = d + f".compact-{uuid.uuid4().hex}"
    cur.write.parquet(tmp)
    for f in old:
        os.remove(os.path.join(d, f))
    for f in os.listdir(tmp):
        if f.endswith(".parquet"):
            os.rename(os.path.join(tmp, f), os.path.join(d, f))
    shutil.rmtree(tmp, ignore_errors=True)
    _save_count(table_path, _footer_rows(d))
