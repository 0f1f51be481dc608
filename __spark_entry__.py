"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exercises the paimon_spark engine (lakehouse tables with
merge-on-read, time travel, incremental reads) plus the training-data
pipeline operators; `oracle_sql()` mirrors each query in DuckDB ANSI SQL
over the raw parquet views.

Cross-engine determinism rules used throughout:
- aggregates of doubles go through DECIMAL casts (exact, order-independent)
  and come back as DOUBLE;
- timestamps are never emitted raw — always formatted as strings;
- every count/size is cast BIGINT on both sides (DuckDB len() is BIGINT,
  Spark size() is INT; DuckDB SUM(BIGINT) is HUGEINT);
- hash-based operators (minhash/simhash/LSH) use md5-derived integers and
  deterministic literal coefficients inlined into both engines.
"""

from __future__ import annotations

import atexit
import datetime as dt
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from paimon_spark import P, Table
from paimon_spark.functions import dedup as DD
from paimon_spark.functions import similarity as SIM
from paimon_spark.functions import text as TX

CUTOFF = dt.datetime(2000, 1, 1)
Q3_DATE = dt.datetime(1997, 6, 30)

# ---------------------------------------------------------------------------
# warehouse: testdata ingested into paimon_spark tables (cached per sf_dir)
# ---------------------------------------------------------------------------

_WAREHOUSES: dict[str, dict[str, Table]] = {}
_WH_DIRS: list[str] = []
# per-builder wall-clock of the last _wh() run (bench.py reports it so
# PERF.md can attribute the ingest row to phases; threads overlap, so
# the numbers sum to more than the ingest wall-clock)
INGEST_PROFILE: dict[str, float] = {}
atexit.register(lambda: [shutil.rmtree(d, ignore_errors=True) for d in _WH_DIRS])


def _ensure_conf(spark: SparkSession):
    """The driver hands us ITS session — set the dynamic SQL confs this
    engine depends on (all runtime-settable)."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),     # events.parquet ns
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
        ("spark.sql.mapKeyDedupPolicy", "LAST_WIN"),          # merge_map
        ("spark.sql.session.timeZone", "UTC"),
        # right-size shuffles for the gate's data scale (a vanilla session
        # defaults to 200 partitions — pure overhead at sf0.01)
        ("spark.sql.shuffle.partitions", "32"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def _dec(c, p=18, s=4):
    return F.col(c).cast(f"decimal({p},{s})") if isinstance(c, str) else c.cast(f"decimal({p},{s})")


def _wh(spark: SparkSession, sf_dir: str) -> dict[str, Table]:
    _ensure_conf(spark)
    if sf_dir in _WAREHOUSES:
        return _WAREHOUSES[sf_dir]
    root = tempfile.mkdtemp(prefix="paimon_wh_")
    _WH_DIRS.append(root)
    out: dict[str, Table] = {}

    # pre-pool setup, OVERLAPPED (r13): the three raw-parquet schema
    # reads (~2.3 s serial, first one carries JVM/FileSource warmup) and
    # the Python-datasource register() (~1.8 s) are independent — run
    # them on a 4-wide pool instead of serially (measured 4.4 s → ~2.3 s
    # off the ingest critical path). register must still COMPLETE before
    # the builders start (concurrent register() calls race), which the
    # pool join guarantees.
    from concurrent.futures import ThreadPoolExecutor as _TPE
    from paimon_spark.streaming.datasource import register as _register
    raw: dict[str, DataFrame] = {}

    def _read_raw(n):
        raw[n] = spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))

    with _TPE(max_workers=4) as _setup:
        _setup_futs = [_setup.submit(_register, spark)] + \
            [_setup.submit(_read_raw, n)
             for n in ("lineitem", "orders", "events")]
        for _f in _setup_futs:
            _f.result()

    def _build_0():
        # ---- lineitem: append table partitioned by l_returnflag ----
        li = raw["lineitem"]
        t = Table.create(f"{root}/lineitem", li.schema,
                         partition_keys=["l_returnflag"], spark=spark)
        t.append(li)
        out["lineitem"] = t

    def _build_1():
        # ---- orders_pk: PK table, 3 commits (insert / update / delete) ----
        odf = raw["orders"].select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority")
        t = Table.create(f"{root}/orders_pk", odf.schema,
                         primary_keys=["o_orderkey"],
                         options={"bucket": "4",
                                  # commit-time delta-key sidecars: the
                                  # derived-changelog read pays zero
                                  # planning jobs (VERDICT r10 #3).
                                  # r13: bulk-ingest commits run
                                  # write-only (ref CoreOptions
                                  # WRITE_ONLY) — changelog production
                                  # defers to the dedicated compact
                                  # call below, which derives the 3
                                  # commits' sidecars on overlapping
                                  # Spark jobs instead of serializing
                                  # them on the commit path
                                  "changelog-producer": "lookup",
                                  "write-only": "true"},
                         spark=spark)
        t.append(odf)                                                   # snapshot 1
        upd = (odf.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
               .withColumn("o_orderpriority", F.lit("9-UPDATED")))
        t.append(upd)                                                   # snapshot 2
        t.delete_where(P.expr("o_orderkey % 7 = 3"))                    # snapshot 3
        t.create_tag("v2", snapshot_id=2)       # tag_travel_read anchor
        # steady state: production PK tables are kept compacted by the
        # committer (full-compaction.delta-commits), and compacted
        # buckets read through the rawConvertible bypass — merge-free
        # point lookups / TopN. History-sensitive queries pin their
        # snapshot (time_travel_v1 @1, pk_upsert_latest @2,
        # audit_log_counts @3), so they still exercise the merge path.
        # This is the dedicated compact job: it also catches up the
        # deferred changelog sidecars (Table.produce_changelog).
        t.compact(full=True)                                            # snapshot 4
        # back to normal committer behavior for any later writes
        t.alter(lambda sc: sc.remove_option("write-only"))
        out["orders_pk"] = t

    def _build_2():
        # ---- user_stats: aggregation merge engine over events ----
        ev = raw["events"].select(
            "user_id",
            F.lit(1).cast("long").alias("cnt"),
            _dec("value", 18, 6).alias("total_value"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
             .cast("long").alias("n_purchases"),
            F.col("event_type").alias("last_event"),
            F.col("value").alias("max_value"),
            "event_id")
        t = Table.create(
            f"{root}/user_stats", ev.schema, primary_keys=["user_id"],
            options={"bucket": "4", "merge-engine": "aggregation",
                     "sequence.field": "event_id",
                     "fields.cnt.aggregate-function": "sum",
                     "fields.total_value.aggregate-function": "sum",
                     "fields.n_purchases.aggregate-function": "sum",
                     "fields.last_event.aggregate-function": "last_value",
                     "fields.max_value.aggregate-function": "max",
                     "fields.event_id.aggregate-function": "max"},
            spark=spark)
        t.append(ev.filter(F.col("event_id") % 2 == 0))
        t.append(ev.filter(F.col("event_id") % 2 == 1))
        out["user_stats"] = t

    def _build_3():
        # ---- orders_partial: partial-update with two sequence groups ----
        b1 = raw["orders"].select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderstatus").alias("status"), F.lit(1).cast("long").alias("s_ts"),
            F.col("o_totalprice").alias("amount"), F.lit(1).cast("long").alias("a_ts"),
            F.col("o_orderpriority").alias("note"))
        t = Table.create(
            f"{root}/orders_partial", b1.schema, primary_keys=["order_id"],
            options={"bucket": "4", "merge-engine": "partial-update",
                     "fields.s_ts.sequence-group": "status",
                     "fields.a_ts.sequence-group": "amount"},
            spark=spark)
        t.append(b1)
        t.append(b1.filter(F.col("order_id") % 3 == 0).select(
            "order_id", F.lit("X").alias("status"), F.lit(2).cast("long").alias("s_ts"),
            F.lit(None).cast("double").alias("amount"), F.lit(None).cast("long").alias("a_ts"),
            F.lit(None).cast("string").alias("note")))
        t.append(b1.filter(F.col("order_id") % 5 == 0).select(
            "order_id", F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("long").alias("s_ts"),
            (F.col("amount") * 0.5).alias("amount"),
            F.lit(0).cast("long").alias("a_ts"),       # stale: rejected vs a_ts=1
            F.lit("halved").alias("note")))
        out["orders_partial"] = t

    def _build_4():
        # ---- events_first: first-row merge engine ----
        ef = raw["events"].select("user_id", "event_type", "event_id", "value")
        t = Table.create(
            f"{root}/events_first", ef.schema,
            primary_keys=["user_id", "event_type"],
            options={"bucket": "4", "merge-engine": "first-row",
                     "sequence.field": "event_id"},
            spark=spark)
        t.append(ef.filter(F.col("event_id") % 2 == 0))
        t.append(ef.filter(F.col("event_id") % 2 == 1))
        out["events_first"] = t

    def _build_5():
        # ---- user_latest_dyn: dynamic-bucket PK table ----
        ed = raw["events"].select("user_id", "event_type", "event_id",
                                  F.col("value").alias("value"))
        t = Table.create(
            f"{root}/user_latest_dyn", ed.schema,
            primary_keys=["user_id", "event_type"],
            options={"bucket": "-1", "dynamic-bucket.target-row-count": "2000",
                     "sequence.field": "event_id"},
            spark=spark)
        t.append(ed.filter(F.col("event_id") % 2 == 0))
        t.append(ed.filter(F.col("event_id") % 2 == 1))
        out["user_latest_dyn"] = t

    def _build_6():
        # ---- events_stream: append table committed as 3 "stream" snapshots ----
        es = raw["events"].select("event_id", "ts", "user_id", "event_type", "value")
        t = Table.create(f"{root}/events_stream", es.schema, spark=spark)
        for i in range(3):
            t.append(es.filter(F.col("event_id") % 3 == i))
        out["events_stream"] = t

    def _build_7():
        # ---- agg_rich: collect/rbm/bool aggregates (array-typed fields
        # with flatten-union merge, per FieldCollectAgg semantics) ----
        ar = raw["orders"].select(
            F.col("o_orderpriority").alias("prio"),
            F.array(F.col("o_orderstatus")).alias("statuses"),
            F.array((F.col("o_custkey") % 64).cast("long")).alias("cust_set"),
            (F.col("o_totalprice") > 200000).alias("any_high"),
            (F.col("o_orderstatus") == "F").alias("all_f"),
            F.lit(1).cast("long").alias("n"),
            F.col("o_orderkey").alias("seq_k"))
        t = Table.create(
            f"{root}/agg_rich", ar.schema, primary_keys=["prio"],
            options={"bucket": "2", "merge-engine": "aggregation",
                     "sequence.field": "seq_k",
                     "fields.statuses.aggregate-function": "collect",
                     "fields.cust_set.aggregate-function": "rbm32",
                     "fields.any_high.aggregate-function": "bool_or",
                     "fields.all_f.aggregate-function": "bool_and",
                     "fields.n.aggregate-function": "sum",
                     "fields.seq_k.aggregate-function": "max"},
            spark=spark)
        t.append(ar.filter(F.col("seq_k") % 2 == 0))
        t.append(ar.filter(F.col("seq_k") % 2 == 1))
        out["agg_rich"] = t

        # ---- agg_listagg: listagg ordered by sequence field ----
        la = raw["orders"].filter(F.col("o_orderkey") % 199 == 0).select(
            F.col("o_orderstatus").alias("st"),
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderkey").alias("seq_k"))
        t2 = Table.create(
            f"{root}/agg_listagg", la.schema, primary_keys=["st"],
            options={"bucket": "1", "merge-engine": "aggregation",
                     "sequence.field": "seq_k",
                     "fields.prio.aggregate-function": "listagg",
                     "fields.seq_k.aggregate-function": "max"},
            spark=spark)
        t2.append(la.filter(F.col("seq_k") % 2 == 0))
        t2.append(la.filter(F.col("seq_k") % 2 == 1))
        out["agg_listagg"] = t2

        # ---- agg_map: merge_map (later maps win per key, seq order) ----
        mm = raw["orders"].filter(F.col("o_orderkey") % 97 == 0).select(
            F.col("o_orderstatus").alias("st"),
            F.create_map(F.col("o_orderpriority"),
                         F.col("o_orderkey")).alias("m"),
            F.col("o_orderkey").alias("seq_k"))
        t3 = Table.create(
            f"{root}/agg_map", mm.schema, primary_keys=["st"],
            options={"bucket": "1", "merge-engine": "aggregation",
                     "sequence.field": "seq_k",
                     "fields.m.aggregate-function": "merge_map",
                     "fields.seq_k.aggregate-function": "max"},
            spark=spark)
        t3.append(mm.filter(F.col("seq_k") % 2 == 0))
        t3.append(mm.filter(F.col("seq_k") % 2 == 1))
        out["agg_map"] = t3

    def _build_30():
        # ---- orders_ro: compact, then one more append (ro lags it).
        # r13: split out of _build_7 — four sequential tables made that
        # builder a pool pole; packing them across workers shortens the
        # ingest critical path
        ro = raw["orders"].filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice")
        t4 = Table.create(
            f"{root}/orders_ro", ro.schema, primary_keys=["o_orderkey"],
            options={"bucket": "2"}, spark=spark)
        t4.append(ro)
        t4.compact()
        t4.append(ro.filter(F.col("o_orderkey") % 6 == 0)
                  .withColumn("o_totalprice", F.col("o_totalprice") + 500.0))
        out["orders_ro"] = t4

    def _build_8():
        # ---- orders_xp: cross-partition update table (partition ⊄ PK) ----
        # keys move between status partitions; the global index emits -D
        # retractions to the old partition (GlobalIndexAssigner analog)
        xp = raw["orders"].select("o_orderkey", "o_orderstatus",
                                  "o_totalprice")
        t = Table.create(
            f"{root}/orders_xp", xp.schema, primary_keys=["o_orderkey"],
            partition_keys=["o_orderstatus"], options={"bucket": "-1"},
            spark=spark)
        t.append(xp)                                           # snapshot 1
        t.compact()                                            # snapshot 2
        moved = (xp.filter(F.col("o_orderkey") % 10 == 0)
                 .withColumn("o_orderstatus", F.lit("X"))
                 .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0))
        t.append(moved)                                        # snapshot 3
        out["orders_xp"] = t

    def _build_9():
        # ---- part_merge: MERGE INTO an append table (COW rewrite) ----
        pm = (spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
              .select("p_partkey",
                      F.col("p_retailprice").cast("double").alias("price"),
                      "p_brand"))
        t = Table.create(f"{root}/part_merge", pm.schema, spark=spark)
        t.append(pm)
        upd = (pm.filter(F.col("p_partkey") % 10 == 0)
               .withColumn("price", F.col("price") + 1000.0))
        ins = (pm.filter(F.col("p_partkey") % 97 == 0)
               .withColumn("p_partkey", F.col("p_partkey") + 3000000))
        t.merge_into(upd.unionByName(ins), on=["p_partkey"],
                     matched_update="all")                # update + insert
        t.merge_into(pm.filter(F.col("p_partkey") % 7 == 3),
                     on=["p_partkey"], matched_delete=True,
                     not_matched_insert=False)            # delete
        out["part_merge"] = t

    def _build_10():
        # ---- orders_avro: PK merge-on-read over AVRO data files ----
        oa = raw["orders"].filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice")
        t = Table.create(f"{root}/orders_avro", oa.schema,
                         primary_keys=["o_orderkey"],
                         options={"bucket": "2", "file.format": "avro"},
                         spark=spark)
        t.append(oa)
        t.append(oa.filter(F.col("o_orderkey") % 9 == 0)
                 .withColumn("o_totalprice", F.col("o_totalprice") + 500.0))
        out["orders_avro"] = t

    def _build_11():
        # ---- nation_sql: the Catalog.sql() DML surface end-to-end ----
        from paimon_spark.catalog import Catalog
        cat = Catalog(f"{root}/sqlcat", spark)
        nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        t = cat.create_table("nation_sql", nat.schema,
                             primary_keys=["n_nationkey"],
                             options={"bucket": "1"})
        t.append(nat)
        cat.sql("UPDATE nation_sql SET n_regionkey = 99 "
                "WHERE n_nationkey % 5 = 0")
        cat.sql("DELETE FROM nation_sql WHERE n_nationkey % 7 = 3")
        out["nation_sql"] = t

        # ---- supplier_csv: PK merge-on-read over CSV data files ----
        sup = spark.read.parquet(
            os.path.join(sf_dir, "supplier.parquet")).select(
            "s_suppkey", "s_name", "s_acctbal")
        t2 = Table.create(f"{root}/supplier_csv", sup.schema,
                          primary_keys=["s_suppkey"],
                          options={"bucket": "1", "file.format": "csv"},
                          spark=spark)
        t2.append(sup)
        t2.append(sup.filter(F.col("s_suppkey") % 3 == 0)
                  .withColumn("s_acctbal", F.col("s_acctbal") + 100.0))
        out["supplier_csv"] = t2

    def _build_12():
        # ---- sup_merge_full: full MERGE clause surface through SQL ----
        # conditional matched clauses (first-match-wins), INSERT (cols)
        # VALUES, and NOT MATCHED BY SOURCE UPDATE/DELETE
        # (ref: MergeIntoPaimonTable.scala:47)
        from paimon_spark.catalog import Catalog
        cat = Catalog(f"{root}/sqlcat2", spark)
        sup = spark.read.parquet(
            os.path.join(sf_dir, "supplier.parquet")).select(
            "s_suppkey", "s_name", "s_acctbal")
        t = cat.create_table("sup_merge_full", sup.schema,
                             primary_keys=["s_suppkey"],
                             options={"bucket": "2"})
        t.append(sup)
        src = (sup.filter(F.col("s_suppkey") % 2 == 0)
               .select("s_suppkey",
                       F.concat(F.lit("SRC-"), F.col("s_name"))
                        .alias("s_name"),
                       (F.col("s_acctbal") + 100).cast(
                           sup.schema["s_acctbal"].dataType)
                        .alias("s_acctbal"))
               .unionByName(
                   sup.filter(F.col("s_suppkey") % 5 == 0)
                   .select((F.col("s_suppkey") + 1000000)
                           .alias("s_suppkey"), "s_name", "s_acctbal")))
        src.createOrReplaceTempView("sup_merge_src")
        cat.sql("""MERGE INTO sup_merge_full AS t USING sup_merge_src AS s
                   ON t.s_suppkey = s.s_suppkey
                   WHEN MATCHED AND t.s_acctbal < 0 THEN DELETE
                   WHEN MATCHED AND s.s_acctbal > 5000 THEN
                     UPDATE SET s_acctbal = t.s_acctbal + s.s_acctbal
                   WHEN MATCHED THEN UPDATE SET s_name = s.s_name
                   WHEN NOT MATCHED AND s.s_acctbal > 1000 THEN
                     INSERT (s_suppkey, s_name, s_acctbal)
                     VALUES (s.s_suppkey, upper(s.s_name), s.s_acctbal)
                   WHEN NOT MATCHED BY SOURCE AND t.s_suppkey % 10 = 7
                     THEN DELETE
                   WHEN NOT MATCHED BY SOURCE THEN
                     UPDATE SET s_acctbal = t.s_acctbal * 2""")
        out["sup_merge_full"] = t

    def _build_13():
        # ---- customer_dsw: native df.write.format("paimon") on a
        # fixed-bucket PK table — write task routes rows to buckets with
        # the Spark-parity xxhash64 (functions/sparkhash.py), then an
        # upsert through the same surface must merge-on-read correctly
        # (format already registered once before the builder pool)
        cust = spark.read.parquet(
            os.path.join(sf_dir, "customer.parquet")).select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        t = Table.create(f"{root}/customer_dsw", cust.schema,
                         primary_keys=["c_custkey"],
                         options={"bucket": "4"}, spark=spark)
        cust.write.format("paimon").option("path", t.path) \
            .mode("append").save()
        upd = (cust.filter(F.col("c_custkey") % 4 == 1)
               .withColumn("c_acctbal",
                           (F.col("c_acctbal") + 500).cast(
                               cust.schema["c_acctbal"].dataType))
               .withColumn("c_mktsegment", F.lit("UPDATED")))
        upd.write.format("paimon").option("path", t.path) \
            .mode("append").save()
        out["customer_dsw"] = Table.load(t.path, spark)

    def _build_14():
        # ---- docs_bm: bitmap POSITION index demo table — one file,
        # lang-clustered runs (sorted write), mixed langs per file so
        # min/max can't skip the file but row ranges prune inside it
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "lang", "n_chars")
        t = Table.create(f"{root}/docs_bm", docs.schema,
                         options={"file-index.bitmap.columns": "lang"},
                         spark=spark)
        t.append(docs.sort("lang", "doc_id").coalesce(1))
        out["docs_bm"] = t

    def _build_15():
        # ---- events_ice: Iceberg-mirrored append table (S10) — two
        # appends + a dynamic partition overwrite so the mirror
        # exercises manifest reuse AND rewrite; the query reads PURELY
        # through the Iceberg metadata chain
        ev = raw["events"].select("event_id", "user_id", "event_type",
                                  "value")
        t = Table.create(
            f"{root}/events_ice", ev.schema,
            partition_keys=["event_type"],
            options={"metadata.iceberg.storage": "table-location"},
            spark=spark)
        t.append(ev.filter(F.col("event_id") % 2 == 0))
        t.append(ev.filter(F.col("event_id") % 2 == 1))
        t.writer().overwrite(
            ev.filter(F.col("event_type") == "click")
              .withColumn("value", F.lit(0.0)),
            dynamic=True)
        out["events_ice"] = t

    def _build_18():
        # ---- imv_user_totals: incremental materialized view — seeded
        # from half the events, then the second half folds in via one
        # delta refresh; correctness = the incremental result equals a
        # full aggregate over the whole base
        from paimon_spark import Catalog
        # decimal base column → delta sums are exact, so the
        # incremental result is bit-identical to the full aggregate
        ev = raw["events"].select(
            "event_id", "user_id",
            F.col("value").cast("decimal(18,6)").alias("value"))
        cat = Catalog(root, spark)
        bt = Table.create(f"{root}/events_imv_base", ev.schema,
                          spark=spark)
        bt.append(ev.filter(F.col("event_id") % 2 == 0))
        cat.create_incremental_materialized_view(
            "events_imv", "events_imv_base", ["user_id"],
            {"total_value": ("value", "sum"),
             "n_events": ("event_id", "count")})
        bt.append(ev.filter(F.col("event_id") % 2 == 1))
        cat.refresh_incremental_materialized_view("events_imv")
        out["events_imv"] = cat.get_table("events_imv")

    def _build_17():
        # ---- events_clustered: write-time z-order clustering — the
        # query proves row fidelity through the clustered write path
        # and the plan audit shows eq-predicate file pruning
        ev = raw["events"].select("event_id", "user_id", "event_type",
                                  "value")
        t = Table.create(
            f"{root}/events_clustered", ev.schema,
            options={"clustering.columns": "user_id,event_id"},
            spark=spark)
        t.append(ev)
        out["events_clustered"] = t

    def _build_16():
        # ---- docs_blob: BLOB-column table — text payloads externalized
        # to blob files; the query materializes and checksums them
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "lang",
            F.encode(F.col("text"), "UTF-8").alias("payload"))
        t = Table.create(f"{root}/docs_blob", docs.schema,
                         options={"blob.columns": "payload"}, spark=spark)
        t.append(docs)
        out["docs_blob"] = t

    def _build_24():
        # ---- lineitem_sums_pk: per-order lineitem sums, PK(l_orderkey),
        # bucketed EXACTLY like orders_pk (murmur3, 4 buckets) and kept
        # compacted — the co-located-join demo table: joining it with
        # orders_pk on the order key runs with ZERO exchange on both
        # sides (bucketed-view HashPartitioning, r7)
        ls = (raw["lineitem"].groupBy("l_orderkey")
              .agg(F.sum(_dec("l_quantity")).alias("sum_qty"),
                   F.sum(_dec(F.col("l_extendedprice")
                              * (1 - F.col("l_discount")), 18, 6))
                   .alias("revenue")))
        t = Table.create(f"{root}/lineitem_sums_pk", ls.schema,
                         primary_keys=["l_orderkey"],
                         options={"bucket": "4"}, spark=spark)
        t.append(ls)
        t.compact(full=True)
        out["lineitem_sums_pk"] = t

    def _build_19():
        # ---- orders_cdc: CDC sync-table action (S11) — a debezium-
        # shaped JSON feed built from orders drives two sync batches
        # with a schema change in between (o_orderpriority added); the
        # second batch also updates (%8) and deletes (%16) keys, so the
        # final state proves evolution + rowkind routing end-to-end
        import json as _json
        from paimon_spark.functions.cdc_sync import sync_table
        f1 = [("o_orderkey", "int64"), ("o_totalprice", "float64"),
              ("o_orderstatus", "string")]
        f2 = f1 + [("o_orderpriority", "string")]

        def _envelope(fields, op, payload_struct, payload_name):
            sch = _json.dumps({"type": "struct", "fields": [
                {"field": "after", "type": "struct",
                 "fields": [{"field": k, "type": ty} for k, ty in fields]}]})
            return F.concat(
                F.lit('{"schema":' + sch + ',"payload":{"op":"' + op
                      + '","' + payload_name + '":'),
                F.to_json(payload_struct), F.lit("}}"))

        base = raw["orders"].select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderstatus", "o_orderpriority") \
            .filter(F.col("o_orderkey") % 4 == 0)
        t = Table.create(
            f"{root}/orders_cdc", T.StructType([
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_totalprice", T.DoubleType()),
                T.StructField("o_orderstatus", T.StringType())]),
            primary_keys=["o_orderkey"], options={"bucket": "4"},
            spark=spark)
        b1 = base.select(_envelope(
            f1, "c", F.struct("o_orderkey", "o_totalprice",
                              "o_orderstatus"), "after").alias("value"))
        sync_table(t, b1)
        upd = base.filter((F.col("o_orderkey") % 8 == 0)
                          & (F.col("o_orderkey") % 16 != 0)) \
            .select(_envelope(
                f2, "u", F.struct(
                    "o_orderkey",
                    (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
                    "o_orderstatus", "o_orderpriority"),
                "after").alias("value"))
        dels = base.filter(F.col("o_orderkey") % 16 == 0) \
            .select(_envelope(
                f1, "d", F.struct("o_orderkey", "o_totalprice",
                                  "o_orderstatus"),
                "before").alias("value"))
        sync_table(t, upd.unionByName(dels))
        out["orders_cdc"] = t

    def _build_20():
        # ---- events_dvice: deletion-vector table with an Iceberg
        # mirror — two DV deletes (the second merges the first file's
        # vectors) mirror as v2 position-delete files; the query reads
        # PURELY through the Iceberg chain
        ev = raw["events"].select("event_id", "user_id", "event_type",
                                  "value")
        t = Table.create(
            f"{root}/events_dvice", ev.schema, spark=spark,
            options={"metadata.iceberg.storage": "table-location",
                     "deletion-vectors.enabled": "true"})
        t.append(ev)
        t.delete_where(P.eq("event_type", "click"))
        t.delete_where(P.lt("event_id", 100))
        out["events_dvice"] = t

    def _build_21():
        # ---- docs_fts: persisted inverted text index (X11) — the
        # fulltext query consults term-bucketed posting lists via
        # partition pruning; scores must equal the index-free exact
        # BM25 formula (and the DuckDB oracle replicates that formula)
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text")
        t = Table.create(f"{root}/docs_fts", docs.schema, spark=spark)
        t.append(docs)
        t.create_text_index(n_buckets=16)
        out["docs_fts"] = t

    def _build_22():
        # ---- events_seq: sequence.field (T6) — commits arrive in an
        # order that DISAGREES with the sequence column, so last-write-
        # wins would be wrong; the merged row must be the max-event_id
        # row per user regardless of commit order
        ev = raw["events"].select(
            "user_id", "event_id", "event_type",
            F.col("value").cast("double").alias("value"))
        t = Table.create(
            f"{root}/events_seq", ev.schema, primary_keys=["user_id"],
            options={"bucket": "2", "sequence.field": "event_id"},
            spark=spark)
        t.append(ev.filter(F.col("event_id") % 2 == 1))
        t.append(ev.filter(F.col("event_id") % 2 == 0))
        out["events_seq"] = t

    def _build_23():
        # ---- orders_defaults: read-time default values (F4) — rows
        # written BEFORE the column existed read back as the declared
        # default, not null
        odf = raw["orders"].select("o_orderkey", "o_orderstatus")
        t = Table.create(
            f"{root}/orders_defaults",
            T.StructType([T.StructField("o_orderkey", T.LongType())]),
            primary_keys=["o_orderkey"], options={"bucket": "2"},
            spark=spark)
        t.append(odf.filter(F.col("o_orderkey") % 2 == 1)
                 .select("o_orderkey"))
        t.alter(lambda s: s.add_column("status", T.StringType())
                .set_option("fields.status.default-value", "NEW"))
        t.append(odf.filter(F.col("o_orderkey") % 2 == 0)
                 .select("o_orderkey",
                         F.col("o_orderstatus").alias("status")))
        out["orders_defaults"] = t

    def _build_25():
        # ---- docs_de: data-evolution table (patch-file column
        # backfill; ref DataEvolutionSplitRead.java) — three overlapping
        # quality patches (latest wins) and a DV delete evaluated over
        # the STITCHED values
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")) \
            .select("doc_id", "lang", "source", "n_chars")
        t = Table.create(f"{root}/docs_de", d.schema,
                         options={"row-tracking.enabled": "true",
                                  "data-evolution.enabled": "true",
                                  "deletion-vectors.enabled": "true"},
                         spark=spark)
        t.append(d)
        t.alter(lambda s: s.add_column("quality", T.DoubleType()))
        t.update_where(P.eq("lang", "en"),
                       {"quality": F.col("n_chars").cast("double")
                        / 1000.0})
        t.update_where(P.eq("lang", "fr"), {"quality": F.lit(0.0)})
        t.update_where(P.eq("source", "src0"), {"quality": F.lit(9.9)})
        t.delete_where(P.eq("quality", 0.0))
        out["docs_de"] = t

    def _build_26():
        # ---- orders_chain: chain table (snapshot + delta branches;
        # ref ChainTableStreamScan.java) — snap holds years ≤1997
        # (latest snapshot partition = 1997), delta holds 1996 (below
        # the chain head, excluded from phase 1) and 1998+ (after it)
        od = (raw["orders"]
              .select(F.year("o_orderdate").cast("int").alias("y"),
                      "o_orderkey",
                      _dec("o_totalprice").alias("o_totalprice")))
        t = Table.create(
            f"{root}/orders_chain", od.schema, partition_keys=["y"],
            primary_keys=["y", "o_orderkey"],
            options={"bucket": "1", "chain-table.enabled": "true",
                     "scan.fallback-snapshot-branch": "snap",
                     "scan.fallback-delta-branch": "delta"},
            spark=spark)
        snap = t.create_branch("snap")
        delta = t.create_branch("delta")
        snap.append(od.filter(F.col("y") <= 1997))
        delta.append(od.filter(F.col("y") == 1996))       # snap 1 (below)
        delta.append(od.filter(F.col("y") >= 1998))       # snap 2 (after)
        out["orders_chain"] = t

    def _build_27():
        # ---- docs_dedup: persisted MinHash-LSH band index (r9) — the
        # incremental-dedup corpus; two appends so the build exercises
        # the delta-append index refresh
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        t = Table.create(f"{root}/docs_dedup", docs.schema, spark=spark)
        t.append(corpus.filter(F.col("doc_id") % 2 == 0))
        t.create_dedup_index(n_buckets=16)
        t.append(corpus.filter(F.col("doc_id") % 2 == 1))
        t.refresh_dedup_index()
        out["docs_dedup"] = t

    def _build_28():
        # ---- emb_dedup: persisted sign-LSH embedding dedup index (r9)
        # — same two-append build so the delta refresh is exercised
        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")).select(
            "vec_id", "embedding")
        corpus = emb.filter(F.col("vec_id") % 5 != 0)
        t = Table.create(f"{root}/emb_dedup", corpus.schema, spark=spark)
        t.append(corpus.filter(F.col("vec_id") % 2 == 0))
        t.create_embedding_dedup_index()
        t.append(corpus.filter(F.col("vec_id") % 2 == 1))
        t.refresh_embedding_dedup_index()
        out["emb_dedup"] = t

    def _build_29():
        # ---- events_bk: append table bucketed by user_id (r13) — the
        # window query reads it through the bucketed view, so BOTH its
        # aggregation and its window run exchange-free (raw parquet
        # pays two shuffles; plan pinned by
        # test_window_over_bucketed_append_no_exchange)
        ev = raw["events"]
        t = Table.create(f"{root}/events_bk", ev.schema,
                         options={"bucket": "8",
                                  "bucket-key": "user_id"},
                         spark=spark)
        t.append(ev)
        out["events_bk"] = t

    def _warm_streaming():
        # Warm the Structured-Streaming machinery (Python DataSource worker
        # pool, state store, memory sink, codegen/JIT of the stateful
        # pipeline) on a 1-row table while the other builders run — a
        # long-lived cluster pays this once, not per streaming query.
        import uuid as _uuid
        one = raw["events"].limit(1).select("event_id", "ts", "event_type")
        t = Table.create(f"{root}/_warm", one.schema, spark=spark)
        t.append(one)
        sdf = spark.readStream.format("paimon").option("path", t.path).load()
        q = (sdf.withColumn("ets", _event_time(sdf))
             .withWatermark("ets", "7 days")
             .groupBy(F.window("ets", "5 minutes").alias("w"), "event_type")
             .agg(F.count("*").alias("cnt"))
             .writeStream.format("memory")
             .queryName(f"warm_{_uuid.uuid4().hex[:8]}")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # the tables are independent — build them on a thread pool
    # (Spark schedules the overlapping jobs; each table's commits stay
    # sequential inside its builder; `out` writes are GIL-atomic)
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    INGEST_PROFILE.clear()

    def _timed(f):
        def run():
            t0 = _time.perf_counter()
            f()
            INGEST_PROFILE[f.__name__] = round(
                _time.perf_counter() - t0, 3)
        return run

    # Pool width 22 (r13, was 14): the builders are LATENCY-bound, not
    # CPU-bound — sampling `top` during a width-14 ingest showed ≥80%
    # idle CPU (threads spend their time in py4j round-trips and
    # driver-side commit bookkeeping, releasing the GIL on every JVM
    # call), so the pool floor is queue depth × per-builder latency,
    # not work/cores. Interleaved A/B at sf0.1 (6 pairings, both
    # orders, varying external load): width 22 beat 14 every time
    # (43.7→36.7, 29.7→21.5, 21.7→20.0, 22.6→20.9 s); 18 and 28
    # bracketed it from below. Env-overridable for other machines.
    # Submission order is LONGEST-FIRST (r13, classic LPT scheduling):
    # with 31 tasks on a pool narrower than the task count, the
    # last-submitted builders queue until a worker frees, so a long
    # builder submitted late (e.g.
    # _warm_streaming ~10 s, _build_19/21/24/25/27 7-9 s) used to start
    # at t≈7-11 s and set the pool tail at ~21 s; longest-first starts
    # them in the first wave and the tail drops to ≈ max(longest
    # builder, work/width). Order = measured sf0.1 durations, a
    # stable RATIO across scale factors (it only has to be roughly
    # right — queue position, not correctness, depends on it).
    _lpt = (_build_1, _build_8, _build_11, _build_5, _build_9, _build_7,
            _build_12, _warm_streaming, _build_19, _build_21, _build_25,
            _build_10, _build_3, _build_27, _build_24, _build_2,
            _build_0, _build_28, _build_4, _build_30, _build_6,
            _build_26, _build_18, _build_17, _build_20, _build_14,
            _build_15, _build_22, _build_29, _build_23, _build_16)
    try:
        _pool_w = int(os.environ.get("SPARK_GRAFT_INGEST_POOL", "22"))
        if _pool_w < 1:
            raise ValueError
    except ValueError:
        _pool_w = 22            # malformed override → measured default
    with ThreadPoolExecutor(max_workers=_pool_w) as _pool:
        _futs = [_pool.submit(_timed(f)) for f in _lpt]
        # _build_13 drives df.write.format("paimon") and must run on
        # the MAIN thread (Spark 4 keys python-datasource artifacts to
        # the registering thread's JobArtifactSet) — run it here so it
        # overlaps the pool instead of serializing after it
        _timed(_build_13)()
        for _f in _futs:
            _f.result()

    _WAREHOUSES[sf_dir] = out
    return out


_RAW_READS: dict[tuple, DataFrame] = {}


def _read(spark, sf_dir, name):
    """Raw-parquet source table, memoized per (session, dir, name):
    spark.read.parquet re-lists the directory and re-reads footers for
    the schema on every call — a fixed ~50 ms that the bench's raw
    baselines (which reuse prebuilt DataFrames) never pay. The parquet
    inputs are immutable testdata, so the cached plan can't go stale."""
    _ensure_conf(spark)
    key = (id(spark), sf_dir, name)
    df = _RAW_READS.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if len(_RAW_READS) > 64:
            _RAW_READS.clear()
        _RAW_READS[key] = df
    return df


def _event_time(df, col="ts"):
    """events.ts as an event-time column, robust to the testdata generator
    emitting either epoch-nanos (int64) or a real timestamp type."""
    dtype = dict(df.dtypes).get(col, "")
    if dtype.startswith("timestamp"):
        # watermarks require TIMESTAMP (ltz); session tz is UTC, so the
        # cast from NTZ keeps the wall clock == duckdb's epoch() reading
        return F.col(col).cast("timestamp")
    return F.timestamp_seconds(
        F.floor(F.col(col) / F.lit(1_000_000_000)).cast("long"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    t = _wh(spark, sf_dir)["lineitem"]
    df = t.read(P.le("l_shipdate", CUTOFF))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (df.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(_dec(disc, 18, 6)).cast("double").alias("sum_disc_price"),
        F.sum(_dec(disc * (1 + F.col("l_tax")), 18, 6)).cast("double").alias("sum_charge"),
        F.count("*").alias("count_order")))


def q3_top_revenue(spark, sf_dir):
    t = _wh(spark, sf_dir)["lineitem"]
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderdate") < Q3_DATE)
    li = t.read(P.gt("l_shipdate", Q3_DATE))
    rev = F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6)) \
        .cast("double").alias("revenue")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                     "o_orderpriority")
            .agg(rev)
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


def q5_region_revenue(spark, sf_dir):
    t = _wh(spark, sf_dir)["lineitem"]
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    orders = _read(spark, sf_dir, "orders")
    li = t.read()
    rev = F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6)) \
        .cast("double").alias("revenue")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(cust), (orders.o_custkey == cust.c_custkey)
                  & (cust.c_nationkey == supp.s_nationkey))
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name").agg(rev))


def q6_revenue(spark, sf_dir):
    t = _wh(spark, sf_dir)["lineitem"]
    df = t.read(P.and_(
        P.ge("l_shipdate", dt.datetime(1996, 1, 1)),
        P.lt("l_shipdate", dt.datetime(1997, 1, 1)),
        P.between("l_discount", 0.05, 0.07),
        P.lt("l_quantity", 24.0)))
    return df.agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount"), 18, 6))
        .cast("double").alias("revenue"),
        F.count("*").alias("n_rows"))


def q4_late_orders(spark, sf_dir):
    """Orders with at least one lineitem shipped after the order date
    (semi join), counted per priority — TPC-H q4 flavor."""
    t = _wh(spark, sf_dir)["lineitem"]
    orders = _read(spark, sf_dir, "orders")
    li = t.read(projection=["l_orderkey", "l_shipdate"])
    late = orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q10_returned_revenue(spark, sf_dir):
    """Revenue lost to returns per customer, top 20 — TPC-H q10 flavor."""
    t = _wh(spark, sf_dir)["lineitem"]
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = t.read(P.eq("l_returnflag", "R"))
    rev = F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6)) \
        .cast("double").alias("revenue")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("c_custkey", "c_name").agg(rev)
            .orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20))


def q12_priority_class(spark, sf_dir):
    """High/low-priority lineitem counts per linestatus — q12 flavor."""
    t = _wh(spark, sf_dir)["lineitem"]
    orders = _read(spark, sf_dir, "orders")
    li = t.read(projection=["l_orderkey", "l_linestatus"])
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_count"),
                 F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_count")))


def q14_promo_share(spark, sf_dir):
    """Share of revenue from PROMO parts — q14 flavor."""
    t = _wh(spark, sf_dir)["lineitem"]
    part = _read(spark, sf_dir, "part")
    li = t.read()
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6)
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
            F.lit(0).cast("decimal(18,6)"))).alias("__promo"),
        F.sum(rev).alias("__total"))
    return agg.select(
        F.round(F.lit(100.0) * F.col("__promo").cast("double")
                / F.col("__total").cast("double"), 4).alias("promo_share"))


def q18_big_orders(spark, sf_dir):
    """Orders whose total quantity exceeds 150, with customer — q18 flavor."""
    t = _wh(spark, sf_dir)["lineitem"]
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = t.read(projection=["l_orderkey", "l_quantity"])
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
           .filter(F.col("sum_qty") > 150))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_name", "o_orderkey", "sum_qty",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
            .orderBy(F.desc("sum_qty"), F.asc("o_orderkey")).limit(20))


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H q21 flavor: suppliers that were the ONLY late shipper on a
    finished multi-supplier order ("late" = shipped >90 days after the
    order date; the testdata has no commit/receipt dates). Exercises
    EXISTS (left-semi) + NOT EXISTS (left-anti) self-joins."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_orderkey", "l_suppkey", "l_shipdate"])
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    supp = _read(spark, sf_dir, "supplier")
    l1 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .filter(F.col("l_shipdate")
                  > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
          .select("l_orderkey", "l_suppkey"))
    all_pairs = li.select(F.col("l_orderkey").alias("p_ok"),
                          F.col("l_suppkey").alias("p_sk")).distinct()
    late_pairs = l1.distinct().select(F.col("l_orderkey").alias("p_ok"),
                                      F.col("l_suppkey").alias("p_sk"))
    multi = l1.join(all_pairs,
                    (l1.l_orderkey == all_pairs.p_ok)
                    & (l1.l_suppkey != all_pairs.p_sk), "left_semi")
    only_late = multi.join(late_pairs,
                           (multi.l_orderkey == late_pairs.p_ok)
                           & (multi.l_suppkey != late_pairs.p_sk),
                           "left_anti")
    return (only_late.join(F.broadcast(supp),
                           only_late.l_suppkey == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.count("*").cast("long").alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name")).limit(20))


def rollup_pricing(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows
    with grouping_id — grouping-sets coverage (SURVEY §2.4 'pure Spark')."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_returnflag", "l_linestatus", "l_extendedprice",
                    "l_discount"])
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
                 F.count("*").cast("long").alias("n_rows"),
                 F.grouping_id().cast("long").alias("gid")))


def topn_orders(spark, sf_dir):
    t = _wh(spark, sf_dir)["orders_pk"]
    return (t.read(projection=["o_orderkey", "o_totalprice", "o_orderpriority"])
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10))


def point_lookup(spark, sf_dir):
    t = _wh(spark, sf_dir)["orders_pk"]
    return t.read(P.eq("o_orderkey", 20))


def transform_year_filter(spark, sf_dir):
    """Monotone transform predicate: year(o_orderdate) = 1996 skips files
    whose [min,max] date range can't contain 1996, then residual-filters —
    the skipping-capable subset of the reference's transform predicates."""
    t = _wh(spark, sf_dir)["orders_pk"]
    pred = P.transform("year", "eq", "o_orderdate", 1996)
    df = t.read(pred)
    return (df.groupBy("o_orderpriority")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("total")))


def agg_engine_rich(spark, sf_dir):
    """Aggregation merge engine: collect (distinct array union), rbm32
    (int-set union), bool_or/bool_and, retractable sum — merged across two
    interleaved commits, read back merge-on-read."""
    t = _wh(spark, sf_dir)["agg_rich"]
    df = t.read(projection=["prio", "statuses", "cust_set", "any_high",
                            "all_f", "n"])
    # flatten array fields to joined strings: the driver's canonicalizer
    # sorts result columns with pandas, which can't hash list cells
    return df.select(
        "prio",
        F.array_join(F.array_sort("statuses"), ",").alias("statuses"),
        F.array_join(
            F.transform(F.array_sort("cust_set"),
                        lambda x: x.cast("string")), ",").alias("cust_set"),
        "any_high", "all_f", "n")


def agg_engine_listagg(spark, sf_dir):
    """listagg field aggregate: comma-joined in sequence-field order
    (deterministic because the merge sorts by (sequence.field, commit
    seq) before concatenating)."""
    t = _wh(spark, sf_dir)["agg_listagg"]
    return t.read(projection=["st", "prio"])


def agg_engine_merge_map(spark, sf_dir):
    """merge_map field aggregate: later maps win per key in sequence order
    (LAST_WIN dedup). Output canonicalized to sorted 'k=v' strings so both
    engines hash identically (map/struct stringification differs)."""
    t = _wh(spark, sf_dir)["agg_map"]
    df = t.read(projection=["st", "m"])
    ents = F.transform(
        F.map_entries(F.col("m")),
        lambda e: F.concat_ws("=", e.key, e.value.cast("string")))
    return df.select(
        "st", F.array_join(F.array_sort(ents), ",").alias("m_entries"))


def changelog_old_vs_new(spark, sf_dir):
    """Changelog derivation (full-compaction/lookup producer semantics):
    diff of merged states between snapshot 1 and current — -U/+U pairs for
    updated keys, -D for deleted keys, summarized per row kind."""
    from paimon_spark.operators.changelog import derive_changelog
    t = _wh(spark, sf_dir)["orders_pk"]
    cl = derive_changelog(t, from_snapshot=1)
    return (cl.groupBy("_row_kind")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


_DECOUPLED_CL: dict[str, "Table"] = {}


def changelog_decoupled_window(spark, sf_dir):
    """Decoupled changelog lifecycle (r12; ref CoreOptions
    changelog.num-retained.*, ExpireChangelogImpl): a lookup-producer
    table with changelog retention set commits three versions, then
    EXPIRES all but the newest snapshot — the changelog of the expired
    commits survives (rows sidecars + long-lived changelog records), so
    the windowed derived changelog (1 → latest] still answers via the
    rows-collapse tier: -U/+U pairs for updated keys, -D for deletes.
    The oracle re-derives the same diff from raw parquet."""
    from paimon_spark.operators.changelog import derive_changelog
    t = _DECOUPLED_CL.get(sf_dir)
    if t is None:
        root = tempfile.mkdtemp(prefix="paimon_dcl_")
        _WH_DIRS.append(root)
        odf = (_read(spark, sf_dir, "orders")
               .filter(F.col("o_orderkey") % 20 == 0)
               .select("o_orderkey", "o_orderstatus",
                       _dec("o_totalprice").alias("o_totalprice")))
        t = Table.create(f"{root}/orders_dcl", odf.schema,
                         primary_keys=["o_orderkey"],
                         options={"bucket": "2",
                                  "changelog-producer": "lookup",
                                  "changelog.num-retained.max": "1000"},
                         spark=spark)
        t.append(odf)                                           # s1
        t.append(odf.filter(F.col("o_orderkey") % 3 == 0)
                 .withColumn("o_totalprice",
                             F.col("o_totalprice")
                             + F.lit(1000).cast("decimal(18,4)")))  # s2
        t.delete_where(P.expr("o_orderkey % 5 = 0 and "
                              "o_orderkey % 3 != 0"))           # s3
        t.expire_snapshots(retain_last=1)   # s1, s2 expired
        assert t.paths.earliest_snapshot_id() == 3
        _DECOUPLED_CL[sf_dir] = t
    cl = derive_changelog(t, from_snapshot=1)
    return cl.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("_row_kind").alias("kind"))


_INPUT_CL: dict[str, "Table"] = {}


def changelog_input_window(spark, sf_dir):
    """Input-producer decoupled changelog (r13; ref: ExpireSnapshotsImpl
    preserves changelog for ANY producer when decoupled, incl. `input`,
    whose commit deltas ARE the changelog): a PK table with
    changelog-producer=input commits three versions, then expires all
    but the newest snapshot — the expired commits' delta files stay
    readable through read_incremental via the long-lived changelog
    records, so the (1 → latest] audit window still answers: the
    update images of s2 (+I with the raised price) and the delete
    images of s3 (-D). The oracle rebuilds the same row set from raw
    parquet."""
    t = _INPUT_CL.get(sf_dir)
    if t is None:
        root = tempfile.mkdtemp(prefix="paimon_icl_")
        _WH_DIRS.append(root)
        odf = (_read(spark, sf_dir, "orders")
               .filter(F.col("o_orderkey") % 20 == 0)
               .select("o_orderkey", "o_orderstatus",
                       _dec("o_totalprice").alias("o_totalprice")))
        t = Table.create(f"{root}/orders_icl", odf.schema,
                         primary_keys=["o_orderkey"],
                         options={"bucket": "2",
                                  "changelog-producer": "input",
                                  "changelog.num-retained.max": "1000"},
                         spark=spark)
        t.append(odf)                                           # s1
        t.append(odf.filter(F.col("o_orderkey") % 3 == 0)
                 .withColumn("o_totalprice",
                             F.col("o_totalprice")
                             + F.lit(1000).cast("decimal(18,4)")))  # s2
        t.delete_where(P.expr("o_orderkey % 5 = 0 and "
                              "o_orderkey % 3 != 0"))           # s3
        t.expire_snapshots(retain_last=1)   # s1, s2 expired
        assert t.paths.earliest_snapshot_id() == 3
        _INPUT_CL[sf_dir] = t
    inc = t.read_incremental(1, 3, with_kind=True)
    return inc.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("_row_kind").alias("kind"))


def read_optimized_lag(spark, sf_dir):
    """$ro view: only fully-compacted files — merge-free reads that lag
    post-compaction writes. The un-compacted second append (price+500
    updates) must NOT be visible here."""
    t = _wh(spark, sf_dir)["orders_ro"]
    return (t.read_optimized()
            .groupBy("o_orderstatus")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("total")))


def metadata_count(spark, sf_dir):
    t = _wh(spark, sf_dir)["lineitem"]
    n = t.new_scan().metadata_count()
    return spark.createDataFrame([(n,)], "cnt long")


def metadata_minmax(spark, sf_dir):
    t = _wh(spark, sf_dir)["lineitem"]
    mn, mx = t.new_scan().metadata_min_max("l_shipdate")
    return spark.createDataFrame(
        [(mn.strftime("%Y-%m-%d"), mx.strftime("%Y-%m-%d"))],
        "min_shipdate string, max_shipdate string")


def pk_upsert_latest(spark, sf_dir):
    return _wh(spark, sf_dir)["orders_pk"].read(snapshot_id=2)


def pk_after_delete(spark, sf_dir):
    return _wh(spark, sf_dir)["orders_pk"].read()


def bucketed_mirror_read(spark, sf_dir):
    """create_bucketed_mirror (r10, VERDICT r9 #4): Spark-native bucketBy
    mirror of orders_pk's merged state — the object-store recovery for
    zero-exchange co-located joins (role of SupportsReportPartitioning,
    ref paimon-spark/.../PaimonScan.scala:115-117). The mirror must
    equal the merged PK state exactly; aggregated per status so the
    compared result is compact."""
    import hashlib as _hl
    t = _wh(spark, sf_dir)["orders_pk"]
    name = "mirror_orders_" + _hl.md5(sf_dir.encode()).hexdigest()[:8]
    meta = t.bucketed_mirror_meta(name)
    if meta is None or not meta["fresh"]:
        t.create_bucketed_mirror(name=name, sorted_by=["o_orderkey"])
    m = spark.table(name)
    return (m.groupBy("o_orderstatus")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("total"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


def colocated_join_priority(spark, sf_dir):
    """Co-located join (J2/J5 at scale, r7): orders_pk ⋈ lineitem_sums_pk
    on the order key — both tables bucketed murmur3 INTO 4 and kept
    compacted, so BOTH scans report HashPartitioning and the join runs
    with zero exchange on either side (plan pinned by
    test_colocated_join_no_exchange; ref: the reference's bucketed-scan
    co-location, DisableUnnecessaryPaimonBucketedScanSuite)."""
    wh = _wh(spark, sf_dir)
    o = wh["orders_pk"].read(projection=["o_orderkey", "o_orderpriority"])
    ls = wh["lineitem_sums_pk"].read()
    j = o.join(ls, F.col("o_orderkey") == F.col("l_orderkey"))
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.sum("sum_qty").cast("double").alias("qty"),
                 F.sum("revenue").cast("double").alias("revenue")))


def cross_partition_upsert(spark, sf_dir):
    """Cross-partition PK upsert (insert → compact → keys move to a new
    partition): the global read must show exactly one row per key, with
    the moved keys in their NEW partition."""
    t = _wh(spark, sf_dir)["orders_xp"]
    return t.read().select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("total"))


def cross_partition_pruned(spark, sf_dir):
    """Partition-pruned read of an OLD partition: moved keys must be gone
    (their -D tombstone lives in this partition) — the r2 judge repro."""
    t = _wh(spark, sf_dir)["orders_xp"]
    return (t.read(P.eq("o_orderstatus", "O"))
            .select("o_orderkey",
                    F.col("o_totalprice").cast("double").alias("total")))


def pk_avro_upsert(spark, sf_dir):
    """PK merge-on-read over a table whose data files are AVRO (row
    format, addressed by class name)."""
    t = _wh(spark, sf_dir)["orders_avro"]
    return t.read().select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("total"))


def sql_dml_roundtrip(spark, sf_dir):
    """UPDATE + DELETE issued through the Catalog.sql() surface."""
    return _wh(spark, sf_dir)["nation_sql"].read().select(
        "n_nationkey", "n_name", "n_regionkey")


def format_csv_pk(spark, sf_dir):
    """PK merge-on-read over csv data files (\\N null sentinel path)."""
    t = _wh(spark, sf_dir)["supplier_csv"]
    return t.read().select(
        "s_suppkey", "s_name",
        F.col("s_acctbal").cast("double").alias("acctbal"))


def merge_into_append(spark, sf_dir):
    """MERGE INTO an append (non-PK) table: update-all + insert, then a
    delete merge — copy-on-write rewrite of touched files only."""
    return _wh(spark, sf_dir)["part_merge"].read()


def datasource_write_pk(spark, sf_dir):
    """Fixed-bucket PK table written ONLY through df.write.format('paimon')
    (task-side xxhash64 bucket routing) — write + upsert, merged read."""
    return _wh(spark, sf_dir)["customer_dsw"].read().select(
        "c_custkey", "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        "c_mktsegment")


def merge_full_surface(spark, sf_dir):
    """Full MERGE INTO clause surface: conditional matched clauses
    (first-match-wins), INSERT (cols) VALUES, NOT MATCHED BY SOURCE
    UPDATE/DELETE — all through Catalog.sql()."""
    return _wh(spark, sf_dir)["sup_merge_full"].read().select(
        "s_suppkey", "s_name",
        F.col("s_acctbal").cast("double").alias("acctbal"))


def time_travel_v1(spark, sf_dir):
    return _wh(spark, sf_dir)["orders_pk"].read(snapshot_id=1)


def incremental_diff(spark, sf_dir):
    return _wh(spark, sf_dir)["orders_pk"].read_incremental(1, 2)


def imv_user_totals(spark, sf_dir):
    """Incremental materialized view: seeded on half the events, the
    other half folded in by ONE delta refresh through the aggregation
    merge engine — the result must equal a full aggregate over the
    whole base (the oracle computes exactly that)."""
    t = _wh(spark, sf_dir)["events_imv"]
    return t.read().select(
        "user_id",
        F.col("total_value").cast("double").alias("total_value"),
        "n_events")


def clustered_write_prune(spark, sf_dir):
    """Write-time clustering (ref: CLUSTERING_COLUMNS): the table was
    z-order-clustered on (user_id, event_id) AT WRITE; an eq predicate
    on user_id file-prunes (plan audit) while values match the raw
    corpus exactly."""
    t = _wh(spark, sf_dir)["events_clustered"]
    return (t.read(P.eq("user_id", 7))
            .groupBy("event_type")
            .agg(F.count("*").alias("cnt"),
                 F.sum(F.col("value").cast("decimal(18,6)"))
                  .cast("double").alias("val_sum")))


def blob_roundtrip(spark, sf_dir):
    """BLOB columns (ref: BlobType): payloads were externalized to blob
    files at write; the query MATERIALIZES them (range reads) and
    checksums every payload — byte drift anywhere in the
    externalize/descriptor/materialize path breaks the md5s. Also
    aggregates descriptor metadata without touching payload bytes."""
    t = _wh(spark, sf_dir)["docs_blob"]
    full = t.read().select(
        "doc_id",
        F.length("payload").cast("long").alias("blob_len"),
        F.md5("payload").alias("blob_md5"))
    desc = (t.read(blob_as_descriptor=True)
            .groupBy("lang")
            .agg(F.sum("payload.length").alias("lang_bytes")))
    return (full.join(
        _wh(spark, sf_dir)["docs_blob"].read(blob_as_descriptor=True)
        .select("doc_id", "lang"), "doc_id")
        .join(F.broadcast(desc), "lang")
        .select("doc_id", "blob_len", "blob_md5", "lang_bytes"))


def iceberg_mirror_read(spark, sf_dir):
    """S10 Iceberg-compatible metadata sink: read the mirrored table
    ONLY through its Iceberg metadata (version-hint → metadata.json →
    avro manifest list → avro manifests → data files; ref:
    IcebergCommitCallback.java) and aggregate — proves an external
    Iceberg reader sees exactly the engine's committed state across
    appends and a partition overwrite."""
    from paimon_spark.iceberg import read_iceberg
    t = _wh(spark, sf_dir)["events_ice"]
    df = read_iceberg(spark, t.paths.root)
    return (df.groupBy("event_type")
            .agg(F.count("*").alias("cnt"),
                 F.sum(F.col("value").cast("decimal(18,6)"))
                  .cast("double").alias("val_sum")))


def audit_log_counts(spark, sf_dir):
    # pinned pre-compaction: $audit_log over LIVE files — compaction
    # legitimately collapses history, so the kind counts are only
    # stable against a fixed snapshot
    t = _wh(spark, sf_dir)["orders_pk"]
    return (t.read_audit_log(snapshot_id=3).groupBy("rowkind")
            .agg(F.count("*").alias("cnt")))


def agg_engine_user_stats(spark, sf_dir):
    t = _wh(spark, sf_dir)["user_stats"]
    return t.read().select(
        "user_id", "cnt", F.col("total_value").cast("double").alias("total_value"),
        "n_purchases", "last_event", "max_value", "event_id")


def partial_update_orders(spark, sf_dir):
    return _wh(spark, sf_dir)["orders_partial"].read()


def first_row_events(spark, sf_dir):
    return _wh(spark, sf_dir)["events_first"].read()


def compact_preserves(spark, sf_dir):
    t = _wh(spark, sf_dir)["user_stats"]
    t.compact()
    return agg_engine_user_stats(spark, sf_dir)


def dynamic_bucket_latest(spark, sf_dir):
    """Last event per (user, type) through a dynamic-bucket PK table."""
    return _wh(spark, sf_dir)["user_latest_dyn"].read()


def zorder_cluster_preserves(spark, sf_dir):
    """Z-order sort-compact then re-aggregate — results must be invariant."""
    from paimon_spark.procedures import call
    t = _wh(spark, sf_dir)["lineitem"]
    call(spark, "compact", table=t, order_strategy="zorder",
         order_by="l_partkey,l_suppkey")
    df = t.read(P.lt("l_partkey", 1000))
    return df.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("cnt"))


# ---- training-data pipeline operators ----

def dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = DD.exact_dedup(docs, "doc_id", ["text"])
    return out.select("content_hash", F.col("keep_id").cast("long"),
                      F.col("n_copies").cast("long"))


def dedup_minhash_bands(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    sig = DD.with_minhash(docs, "doc_id", "text", 16)
    return sig.select("doc_id", *DD.band_keys(16, 4))


def dedup_minhash_pairs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, "doc_id", "text", 16, 4)


def dedup_clusters(spark, sf_dir):
    """LSH pairs → connected components → per-cluster survivor: the
    full dedup decision (which rows to keep) rather than just candidate
    pairs. Iterative min-label propagation, O(component diameter)
    rounds of shuffle joins; oracle = DuckDB recursive-CTE transitive
    closure over the identical pair set."""
    docs = _read(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text", 16, 4)
    cc = DD.connected_components(pairs)
    return cc.select("doc_id", "cluster_id",
                     (F.col("doc_id") == F.col("cluster_id"))
                     .alias("is_survivor"))


def dedup_simhash(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return DD.with_simhash(docs, "doc_id", "text", 32)


def soft_dedup_weights(spark, sf_dir):
    """SemDeDup/D4-style soft dedup (r10): every doc weighted by
    1/|near-dup cluster| so a mixture sampler sees each content family
    with unit mass; singletons keep weight 1.0. LSH pairs →
    large-star/small-star components → size join; oracle = recursive
    transitive closure over the identical pair set."""
    docs = _read(spark, sf_dir, "documents")
    return DD.soft_dedup_weights(docs, "doc_id", "text", 16, 4)


def audio_frame_energy(spark, sf_dir):
    """Frame-level audio analysis (r10): deterministic PCM tones through
    the REAL WAV decode + mapInPandas framing path — per-frame RMS and
    zero-crossing rate, oracle-mirrored bit-exactly in SQL (16-bit
    quantization + frame slicing reproduced in DuckDB). The FFT columns
    (centroid/rolloff) are physics-tested in tests/test_multimodal.py —
    SQL has no FFT."""
    import math
    from paimon_spark.functions.multimodal import (audio_frame_features,
                                                   encode_wav)
    rate, n = 16000, 8000
    specs = [(1, 440.0, 0.5), (2, 2200.0, 0.25), (3, 0.0, 0.0)]
    rows = [(aid, bytearray(encode_wav(
        [amp * math.sin(2 * math.pi * f * i / rate) for i in range(n)],
        rate))) for aid, f, amp in specs]
    assets = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = audio_frame_features(assets, frame=512)
    return out.select("asset_id", "frame_idx",
                      F.round("rms", 6).alias("rms"),
                      F.round("zcr", 6).alias("zcr"))


_IMAGE_FIXTURE = "/tmp/paimon_spark_fixtures/image_dhash.parquet"


def _image_corpus() -> list[tuple[int, bytes]]:
    """Deterministic BMP corpus for the image near-dup gate: 6 content
    families (base / noisy copy / inversion), one rescale family (equal
    dHash to its base), and a 4-copy blank group that exercises the
    hot-band guard. All payloads decodable by the lib-free BMP path."""
    import numpy as np
    from paimon_spark.functions.multimodal import encode_bmp, resize_nearest
    rows: list[tuple[int, bytes]] = []
    for s in range(6):
        rng = np.random.default_rng(7 + s)
        base = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
        gx = np.linspace(0, 200 + 5 * s, 32, dtype=np.float64)
        base = np.clip(base * 0.2 + gx[None, :, None], 0,
                       255).astype(np.uint8)
        noisy = np.clip(base.astype(np.int16)
                        + rng.integers(-6, 7, size=base.shape), 0,
                        255).astype(np.uint8)
        inv = np.clip(255 - base.astype(np.int16), 0, 255).astype(np.uint8)
        rows += [(100 + s, encode_bmp(base)),
                 (200 + s, encode_bmp(noisy)),
                 (300 + s, encode_bmp(inv))]
        if s == 0:
            rows.append((400, encode_bmp(resize_nearest(base, 64, 64))))
    blank = encode_bmp(np.zeros((16, 16, 3), dtype=np.uint8))
    rows += [(900 + i, blank) for i in range(4)]
    return rows


def _write_image_fixture() -> str:
    """Per-asset dHash + band keys, computed DRIVER-SIDE through the
    same decode→hash path the engine runs in mapInPandas, persisted as
    a parquet fixture so DuckDB can independently re-derive the pair
    selection (xor + bit_count + band arithmetic). The decode half is
    pytest-pinned (test_image_dhash_near_dup_pairs); any driver/engine
    hash divergence surfaces as a gate value-hash mismatch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from paimon_spark.functions.multimodal import decode_image, dhash64
    os.makedirs(os.path.dirname(_IMAGE_FIXTURE), exist_ok=True)
    ids, hashes, bands = [], [], [[] for _ in range(4)]
    for aid, payload in _image_corpus():
        h = dhash64(decode_image(payload))
        ids.append(aid)
        for b in range(4):
            bands[b].append((h >> (16 * b)) & 0xFFFF)
        hashes.append(h - (1 << 64) if h >= 1 << 63 else h)
    tbl = pa.table({"asset_id": pa.array(ids, pa.int64()),
                    "dhash": pa.array(hashes, pa.int64()),
                    **{f"band{b}": pa.array(bands[b], pa.int64())
                       for b in range(4)}})
    tmp = _IMAGE_FIXTURE + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, _IMAGE_FIXTURE)
    return _IMAGE_FIXTURE


def image_near_dup(spark, sf_dir):
    """Image near-dup pairs via 64-bit dHash banding: deterministic
    synthetic BMPs (6 base/noisy/inverted families + an equal-hash
    rescale + a 4-copy blank group) through the REAL decode + hot-band
    guard + banded self-join + exact bit_count Hamming verify. The SQL
    oracle re-derives the pairs in DuckDB from the driver-side dHash
    fixture (decode is the only step SQL cannot run; it is pinned by
    tests/test_multimodal.py::test_image_dhash_near_dup_pairs)."""
    from paimon_spark.functions.multimodal import image_near_dup_pairs
    _write_image_fixture()
    assets = spark.createDataFrame(
        [(aid, bytearray(p)) for aid, p in _image_corpus()],
        "asset_id long, payload binary")
    return image_near_dup_pairs(assets, max_hamming=3)


def url_canonical_dedup(spark, sf_dir):
    """URL-level dedup (r11): canonicalize synthetic crawl URLs (case
    noise, default ports, tracking params, fragments, trailing slash)
    and collapse to (canonical_url, keep_id, n_copies) — the first,
    cheapest dedup pass a crawled corpus runs (RefinedWeb §3.2 dedups
    by normalized URL before any content hashing). One hash groupBy;
    the canonicalization is a pure Catalyst regex chain mirrored
    verbatim in the DuckDB oracle."""
    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("https://www.")),
        F.col("source"), F.lit(".Example.COM"),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/d/"), (did % 40).cast("string"),
        F.when(did % 3 == 0, F.lit("?utm_source=feed&utm_campaign=c"))
        .when(did % 3 == 1, F.lit("/#frag")).otherwise(F.lit("")))
    return TX.url_dedup(docs.withColumn("url", url), "url", "doc_id")


def gopher_quality(spark, sf_dir):
    """Gopher rule gate (r11; r12: paper-faithful A1.1 — the 8-word
    required list the/be/to/of/and/that/have/with and the ≥80%
    alphabetic-word rule, per VERDICT r11 #5): word-count bounds,
    mean word length, symbol ratio, bullet/ellipsis line ratios,
    alphabetic-word ratio, required-stopword presence — per document
    plus the conjunctive pass flag. Pure Catalyst; the oracle
    re-derives every rule with identical arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    rules = TX.gopher_rules(F.col("text"), min_words=10)
    return docs.select(
        "doc_id",
        *[rules[k].alias(k) for k in
          ("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
           "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ok",
           "stopword_ok")],
        rules["pass"].alias("passes"))


def boilerplate_scrub(spark, sf_dir):
    """Cross-corpus boilerplate sentence removal (r11): sentences whose
    normalized form appears in ≥3 distinct documents (cookie banners /
    footers / license blurbs — injected deterministically on every 4th
    doc so the op has real work at every SF) are scrubbed and each
    document's text is rebuilt in original sentence order. posexplode →
    distinct-count groupBy → broadcast anti-join → reassembly groupBy;
    nothing quadratic."""
    docs = _read(spark, sf_dir, "documents")
    banner = (". Subscribe to our newsletter today. "
              "All rights reserved to the site operator")
    aug = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(banner)))
        .otherwise(F.col("text")))
    return TX.scrub_boilerplate(aug, "doc_id", "text", min_docs=3)


def ngram_lm_score(spark, sf_dir):
    """CCNet-style LM quality proxy (r10): avg log p(w2|w1) under the
    corpus's own add-k-smoothed bigram model — the KenLM-bucket filter
    with the LM pass fused into the query. Corpus-linear (two count
    shuffles + two key joins), no Python UDFs."""
    docs = _read(spark, sf_dir, "documents")
    return TX.ngram_lm_quality(docs, "doc_id", "text")


def ngram_jaccard_pairs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    # token array in its OWN projection (r13): DD.shingles inlines the
    # split into the gram lambda, which HOFs evaluate interpreted per
    # element — O(tokens²) per doc (the trap dedup.shingles' docstring
    # warns about; same fix as with_minhash). Shingle values identical.
    a = (docs.select(F.col("doc_id").alias("id_a"),
                     TX.tokens(F.col("text")).alias("__tka"))
         .select("id_a",
                 DD.shingles_from_tokens(F.col("__tka")).alias("sh_a")))
    b = (docs.select(F.col("doc_id").alias("id_b"),
                     TX.tokens(F.col("text")).alias("__tkb"))
         .select("id_b",
                 DD.shingles_from_tokens(F.col("__tkb")).alias("sh_b")))
    pairs = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("jaccard",
                         F.round(DD.jaccard_shingles(F.col("sh_a"), F.col("sh_b")), 6))
             .filter(F.col("jaccard") > 0)
             .select("id_a", "id_b", "jaccard"))
    return pairs


def text_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


def text_stats(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        TX.bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
        TX.fingerprint(F.col("text")).alias("fingerprint"))


def text_langid(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


def text_repetition(spark, sf_dir):
    """Within-doc sentence repetition ratio — the paragraph-dedup signal
    a corpus-cleaning pipeline thresholds on. Catalyst array ops only."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.repetition_ratio(F.col("text")).alias("rep_ratio"),
        F.size(TX.sentences(F.col("text"))).alias("n_sentences"))


def pii_redact(spark, sf_dir):
    """PII detection + redaction — the hygiene pass a shippable corpus
    needs. The synthetic docs carry no PII, so the query plants one
    deterministic email + IPv4 per doc (a pure column transform of the
    given table) and the operator must find and mask exactly those.
    Catalyst regexp ops only; Java and RE2 agree on the restricted
    pattern syntax so the DuckDB oracle mirrors byte-for-byte."""
    from paimon_spark.functions.text import pii_counts, redact_pii
    docs = _read(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com ip 10.0.0."),
                 (F.col("doc_id") % 256).cast("string")).alias("t"))
    c = pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        c["n_emails"].cast("long").alias("n_emails"),
        c["n_ips"].cast("long").alias("n_ips"),
        F.length(redact_pii(F.col("t"))).cast("long").alias("red_len"))


def contamination_4gram(spark, sf_dir):
    """Benchmark decontamination: docs sharing a word 4-gram with the
    benchmark subset (doc_id % 97 = 0). Both sides explode to
    xxhash64(ngram) 8-byte keys — no string shipping, no all-pairs;
    the distinct benchmark side broadcasts under AQE."""
    from paimon_spark.functions.text import contamination
    docs = _read(spark, sf_dir, "documents")
    return contamination(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0), n=4,
    ).select("doc_id", F.col("n_shared").cast("long").alias("n_shared"))


def text_chunks(spark, sf_dir):
    """Sliding-window chunking (width 64 words, stride 32) — one row per
    chunk, the LLM-context preprocessing shape. Split/sequence/slice
    stay in whole-stage codegen; posexplode fans out rows."""
    docs = _read(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        F.posexplode(TX.chunk_texts(F.col("text"), 64, 32))
         .alias("chunk_idx", "chunk"))
    return c.select("doc_id", F.col("chunk_idx").cast("long"), "chunk")


def bitmap_rowrange_lang(spark, sf_dir):
    """Sub-file row-range pruning: eq over a bitmap-position-indexed
    low-cardinality column of a file whose min/max can't skip — the
    plan carries _metadata.row_index range filters
    (ref: fileindex/bitmap/BitmapFileIndex.java roaring positions)."""
    t = _wh(spark, sf_dir)["docs_bm"]
    return (t.read(P.eq("lang", "fr"))
            .select("doc_id", "lang", "n_chars"))


def ann_brute_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    out = SIM.brute_force_topk(emb, [0, 1, 2, 3, 4], k=5)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long"), "score")


def ann_lsh_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    out = SIM.lsh_topk(emb, [0, 1, 2, 3, 4], k=5, n_planes=4)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long"), "score")


def data_evolution_backfill(spark, sf_dir):
    """Data evolution: three overlapping patch-file backfills of a new
    `quality` column on a row-tracking append table (latest patch wins,
    base bytes never rewritten) + a DV delete over the stitched values."""
    return _wh(spark, sf_dir)["docs_de"].read().select(
        "doc_id", "lang", "source", "n_chars", "quality")


def stream_patched_drain(spark, sf_dir):
    """availableNow drain of a data-evolution table WITH live patches
    (r8; ref DataEvolutionSplitRead.java): untouched base files hardlink
    raw into the JVM FileStreamSource view, patch-affected ones are
    stitched once — the stream equals the batch stitched read."""
    import uuid as _uuid
    t = _wh(spark, sf_dir)["docs_de"]
    sink = f"mem_{_uuid.uuid4().hex[:8]}"
    q = (t.read_stream()
         .groupBy("lang")
         .agg(F.count("*").cast("long").alias("n_docs"),
              F.sum("n_chars").cast("long").alias("chars"),
              F.round(F.sum("quality"), 4).alias("q_sum"))
         .writeStream.format("memory").queryName(sink)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(sink)


def stream_patched_followup(spark, sf_dir):
    """Pinned FOLLOW-UP stream over a data-evolution table (r9; ref
    DataTableStreamScan.java:264 + DeltaFollowUpScanner.java:33): drain
    the deltas after snapshot 1 through readStream.format('paimon') —
    each patch commit streams the touched rows' NEW IMAGES valued at
    the drain end (en + fr + src0 backfills, latest patch wins), and
    the DV-delete OVERWRITE commit is skipped per the reference's
    follow-up contract (no re-emission of re-ADDed live files)."""
    import uuid as _uuid
    t = _wh(spark, sf_dir)["docs_de"]
    from paimon_spark.streaming.datasource import _stream_schema, register
    register(spark)
    sink = f"mem_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("paimon")
         .schema(_stream_schema(t.schema))
         .option("path", t.path).option("availablenow", "true")
         .option("scan.mode", "from-snapshot")
         .option("scan.snapshot-id", "2")
         .load()
         .select("lang", "n_chars", "quality")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    # summary over the drained rows batch-side: a stateful complete-mode
    # agg inside the stream costs ~1.3 s/query in planner overhead and
    # proves nothing extra about the follow-up plane under test
    return (spark.table(sink)
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("chars"),
                 F.round(F.sum("quality"), 4).alias("q_sum")))


def dedup_incremental_index(spark, sf_dir):
    """Incremental dedup of a NEW document batch against the PERSISTED
    corpus band index (r9, Table.create_dedup_index): candidates = the
    batch's band keys joined against the bucket-pruned index plus
    within-batch LSH pairs, then exact shingle-Jaccard verify ≥ 0.5 on
    candidates only — the per-ingest-increment dedup shape a training
    pipeline runs at 100 TB instead of re-banding the whole corpus."""
    t = _wh(spark, sf_dir)["docs_dedup"]
    new = (_read(spark, sf_dir, "documents").select("doc_id", "text")
           .filter(F.col("doc_id") % 5 == 0))
    return t.dedup_against_index(new, verify_jaccard=0.5)


def dedup_embedding_incremental(spark, sf_dir):
    """Incremental embedding near-dup of a NEW vector batch against the
    PERSISTED corpus sign-LSH band index (r9,
    Table.create_embedding_dedup_index): candidates = batch band keys
    joined against the bucket-pruned index plus within-batch LSH pairs
    (with the exact-duplicate clique guard), then exact cosine ≥ 0.4
    verify on candidates only — the per-ingest embedding-dedup shape a
    training pipeline runs at 100 TB instead of re-hashing the corpus."""
    t = _wh(spark, sf_dir)["emb_dedup"]
    new = (_read(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding")
           .filter(F.col("vec_id") % 5 == 0))
    return t.dedup_embeddings_against_index(new, threshold=0.4)


def chain_stream_phase1(spark, sf_dir):
    """Chain-table STREAMING scan (r9; ref ChainTableStreamScan.java:77):
    phase 1 serves the latest snapshot-branch partition (1997) plus the
    delta partitions after it (1998+) — older snapshot partitions
    (≤1996) and the below-chain-head delta partition (1996) excluded,
    each key once under its natural partition. A stateful restore
    (next_delta_snapshot=1, the reference's single-long checkpoint)
    skips phase 1 and replays every delta-branch snapshot as phase-2
    increments (1996 + 1998+)."""
    from paimon_spark.streaming.source import ChainStreamScanner
    t = _wh(spark, sf_dir)["orders_chain"]
    sc = ChainStreamScanner(t)
    p1 = sc.next_batch().withColumn("phase", F.lit("start"))
    sc2 = ChainStreamScanner(t, next_delta_snapshot=1)
    p2 = sc2.next_batch().withColumn("phase", F.lit("delta"))
    cols = ["phase", "y", "o_totalprice"]
    u = p1.select(*cols).unionByName(p2.select(*cols))
    return (u.groupBy("phase", "y")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("o_totalprice").cast("double").alias("total")))


def incremental_patched_images(spark, sf_dir):
    """Incremental read over data-evolution PATCH commits (r8): the
    range (snap 1, snap 3] holds two column-backfill patches — the TVF
    emits the updated rows' NEW IMAGES valued at to_snapshot (en + fr
    patches applied; the later src0 patch and DV delete excluded)."""
    t = _wh(spark, sf_dir)["docs_de"]
    df = t.read_incremental(1, 3, with_kind=False)
    return df.select(
        "doc_id", "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round("quality", 6).alias("quality"))


def embedding_centroid_classify(spark, sf_dir):
    """Nearest-centroid embedding classifier: per-label centroids, every
    vector assigned by cosine, confusion counts out — the cheap
    quality/topic classifier a pipeline runs over a labeled seed set
    (partial-agg centroid shuffle + broadcast scoring; no per-row
    Python)."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.centroid_classify(emb)


def multimodal_bytes_meta(spark, sf_dir):
    """Multimodal plumbing end-to-end: an opaque BINARY payload column
    pushed through Arrow-batched mapInPandas computing byte-level metadata
    — the exact batch shape real image/audio decode uses (decode itself is
    stubbed per functions/multimodal.py; this proves the binary round-trip
    Spark→Arrow→pandas→Spark is byte-exact)."""
    import hashlib

    import pandas as pd

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    def run(batches):
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "n_bytes": b["payload"].map(len).astype("int64"),
                "content_md5": b["payload"].map(
                    lambda x: hashlib.md5(bytes(x)).hexdigest()),
            })

    return docs.mapInPandas(
        run, "doc_id long, n_bytes long, content_md5 string")


def ann_ivf_topk(spark, sf_dir):
    """IVF-flavor ANN: nearest-centroid inverted lists, probe 2 lists per
    query, exact cosine top-5 within them (scale path alongside LSH)."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, [0, 1, 2, 3, 4], k=5, n_centroids=16, nprobe=2)


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup: banded sign-LSH candidates → exact
    cosine ≥ 0.4 verify (threshold fits this synthetic corpus — max
    pairwise cosine is ~0.51; real near-dup corpora use ~0.9+)."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dup(emb, threshold=0.4, n_planes=8,
                                  band_bits=2)


def window_user_ranks(spark, sf_dir):
    """Top-2 event types per user. Reads the user_id-bucketed engine
    table (r13): the bucketed view reports HashPartitioning(user_id),
    which satisfies BOTH the groupBy's and the window's clustering —
    zero exchanges end-to-end, where raw parquet pays two shuffles."""
    from pyspark.sql import Window
    ev = _wh(spark, sf_dir)["events_bk"].read(
        projection=["user_id", "event_type"])
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (counts.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 2))


def q7_nation_volume(spark, sf_dir):
    """Revenue flow between supplier-nation and customer-nation pairs by
    ship year (TPC-H q7 flavor; no n_name filter — small domain here)."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_orderkey", "l_suppkey", "l_extendedprice",
                    "l_discount", "l_shipdate"])
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("sk"),
                                   F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("ck"),
                                   F.col("n_name").alias("cust_nation")))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(n1, F.col("s_nationkey") == F.col("sk"))
            .join(n2, F.col("c_nationkey") == F.col("ck"))
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6))
                 .cast("double").alias("volume")))


def q8_market_share(spark, sf_dir):
    """Share of one region's revenue sourced from one supplier nation, by
    year (q8 flavor) — numerator/denominator emitted separately to keep the
    comparison division-free across engines."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"])
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    n_c = F.broadcast(nation.select(F.col("n_nationkey").alias("ck"),
                                    F.col("n_regionkey").alias("crk")))
    n_s = F.broadcast(nation.select(F.col("n_nationkey").alias("sk"),
                                    F.col("n_name").alias("supp_nation")))
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6)
    first_nation = nation.orderBy("n_nationkey").limit(1).collect()[0].n_name
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(n_c, F.col("c_nationkey") == F.col("ck"))
            .join(F.broadcast(region), F.col("crk") == region.r_regionkey)
            .filter(F.col("r_name") == "AMERICA")
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(n_s, F.col("s_nationkey") == F.col("sk"))
            .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.sum(F.when(F.col("supp_nation") == first_nation, vol)
                       .otherwise(F.lit(0).cast("decimal(18,6)")))
                 .cast("double").alias("mkt_num"),
                 F.sum(vol).cast("double").alias("mkt_den")))


def q9_product_profit(spark, sf_dir):
    """Pseudo-profit by supplier nation and year over green parts
    (q9 flavor: p_retailprice*l_quantity stands in for ps_supplycost)."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                    "l_extendedprice", "l_discount", "l_shipdate"])
    part = _read(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    profit = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                  - F.col("p_retailprice") * F.col("l_quantity") * 0.1, 18, 6)
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("l_shipdate").cast("long").alias("o_year"))
            .agg(F.sum(profit).cast("double").alias("sum_profit")))


def q11_important_parts(spark, sf_dir):
    """Parts whose shipped value exceeds 0.05% of total shipped value
    (q11 flavor on lineitem; threshold kept division-free)."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_partkey", "l_extendedprice", "l_discount"])
    val = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6)
    per_part = li.groupBy("l_partkey").agg(F.sum(val).alias("value_dec"))
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("value_dec") * 2000 > F.col("total_dec"))
            .select("l_partkey", F.col("value_dec").cast("double").alias("value")))


def q13_customer_orders(spark, sf_dir):
    """Distribution of customers by order count, including zero-order
    customers (q13)."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


def q15_top_supplier(spark, sf_dir):
    """Suppliers achieving the maximum revenue in a ship-date window (q15);
    exact decimal revenue makes the max-equality deterministic."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        P.and_(P.ge("l_shipdate", dt.datetime(1996, 1, 1)),
               P.lt("l_shipdate", dt.datetime(1996, 7, 1))),
        projection=["l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"])
    supp = _read(spark, sf_dir, "supplier")
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                           18, 6)).alias("total_dec")))
    top = rev.agg(F.max("total_dec").alias("max_dec"))
    return (rev.crossJoin(F.broadcast(top))
            .filter(F.col("total_dec") == F.col("max_dec"))
            .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
            .select("s_suppkey", "s_name",
                    F.col("total_dec").cast("double").alias("total_revenue")))


def q16_brand_suppliers(spark, sf_dir):
    """Distinct supplier count per (brand, type, size-bucket), excluding one
    brand (q16 flavor via lineitem as the part-supplier bridge)."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_partkey", "l_suppkey"])
    part = _read(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#13")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type", (F.col("p_size") % 5).alias("size_bucket"))
            .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")))


def q17_small_quantity_revenue(spark, sf_dir):
    """Revenue from orders of quantity below 20% of the part's average
    (q17) — the avg comparison is cross-multiplied to stay division-free:
    qty < 0.2*sum/cnt  ⇔  5*qty*cnt < sum."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_partkey", "l_quantity", "l_extendedprice"])
    part = _read(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    stats = (li.groupBy(F.col("l_partkey").alias("sp"))
             .agg(F.sum(_dec("l_quantity")).alias("sum_qty"),
                  F.count("*").alias("cnt")))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(stats, li.l_partkey == F.col("sp"))
            .filter(_dec("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
            .agg(F.sum(_dec("l_extendedprice")).cast("double").alias("small_revenue"),
                 F.count("*").alias("n_rows")))


def q19_disjunctive_revenue(spark, sf_dir):
    """Disjunction of brand/size/quantity branches (q19) — exercises OR
    predicate planning."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_partkey", "l_quantity", "l_extendedprice", "l_discount"])
    part = _read(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 15))
           & (F.col("l_quantity").between(20, 30))))
    return j.filter(cond).agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 6))
        .cast("double").alias("revenue"),
        F.count("*").alias("n_rows"))


def q22_idle_customers(spark, sf_dir):
    """Customers above the average positive account balance with no orders,
    per nation (q22 flavor; avg comparison cross-multiplied)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("sum_pos"),
        F.count("*").alias("n_pos"))
    rich = (cust.crossJoin(F.broadcast(pos))
            .filter(_dec("c_acctbal") * F.col("n_pos") > F.col("sum_pos")))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    idle = rich.join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return (idle.groupBy("c_nationkey")
            .agg(F.count("*").alias("numcust"),
                 F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal")))


def pipeline_clean_corpus(spark, sf_dir):
    """End-to-end training-data cleaning pipeline in ONE declarative plan:
    language gate (en) → quality gate (score ≥ 0.3) → exact dedup (keep
    lowest doc_id per content hash) → token/char stats on the survivors.
    The whole pipeline is a single Catalyst DAG — one scan, one shuffle
    (the dedup groupBy) — the shape a 100 TB corpus-cleaning job wants."""
    docs = _read(spark, sf_dir, "documents")
    # gate scores in their OWN projection: a combined filter expression
    # would inline (and re-evaluate) the token-array subtree per predicate
    # (same HOF-inlining trap as with_minhash — measured 2.8x)
    pre = docs.select(
        "doc_id", "text",
        TX.lang_id(F.col("text")).alias("__lang"),
        TX.quality_score(F.col("text")).alias("__q"))
    gated = pre.filter((F.col("__lang") == "en") & (F.col("__q") >= 0.3))
    # carry the survivor's text THROUGH the dedup groupBy (r13):
    # min_by(text, doc_id) is the min-id row's text — exactly what the
    # former keep.join(docs, doc_id) re-fetched with a second scan and
    # a join (and identical even under md5 collisions, where the join
    # also returned the min-id doc's text). One scan, one shuffle.
    survivors = (gated.groupBy(F.md5("text").alias("content_hash"))
                 .agg(F.min("doc_id").alias("doc_id"),
                      F.min_by("text", "doc_id").alias("text")))
    return survivors.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"))


def pipeline_curated_corpus(spark, sf_dir):
    """Composition flagship for the r10 curation operators, ONE
    declarative plan: corpus-bigram LM gate (ngram_lm_quality ≥ -6.5,
    CCNet-bucket analog) → soft-dedup SURVIVORSHIP (keep each near-dup
    cluster's min-id doc, soft_dedup_weights) → per-language corpus
    accounting (docs kept, token mass, mean LM score). Every stage is
    corpus-linear; the oracle re-derives the identical pipeline in SQL
    (bigram LM + recursive-CTE components)."""
    docs = _read(spark, sf_dir, "documents")
    lm = TX.ngram_lm_quality(docs, "doc_id", "text")
    # survivorship via ANTI-JOIN against the non-survivor ids (r14,
    # guide §1.2/§2.3): the pipeline's gate is `doc_id = cluster_id`
    # and nothing else from soft_dedup_weights — the per-node label
    # join, the corpus-wide re-join and the cluster-size window all
    # produced columns this query threw away. cc_nonsurvivors returns
    # exactly the ids with cluster_id ≠ doc_id (the fixpoint stars'
    # child side), so the anti-join keeps the identical survivor set
    # (oracle: coalesce(cluster_id, doc_id) = doc_id) while the
    # corpus-sized shuffle drops to a |non-survivors|-sized broadcast.
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text", 16, 4)
    losers = DD.cc_nonsurvivors(pairs).withColumnRenamed("id", "doc_id")
    joined = (docs.join(lm, "doc_id")
              .filter(F.col("lm_score") >= -6.5)
              .join(losers, "doc_id", "left_anti"))
    toks = joined.select(
        "doc_id", "lang", "lm_score",
        TX.token_count(F.col("text")).cast("long").alias("__nt"))
    return (toks.groupBy("lang")
            .agg(F.count("*").cast("long").alias("docs_kept"),
                 F.sum("__nt").cast("long").alias("total_tokens"),
                 F.round(F.avg("lm_score"), 6).alias("mean_lm")))


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H q2 flavor: for each STANDARD size-15 part, the EUROPE
    supplier(s) with the minimum supply cost. The testdata has no partsupp
    table, so lineitem is the part-supplier bridge and supply cost is
    min(l_extendedprice) per (part, supplier) — decimal-exact so the
    min-equality is deterministic across engines."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_partkey", "l_suppkey", "l_extendedprice"])
    part = _read(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    eur = (supp.join(F.broadcast(nation),
                     supp.s_nationkey == nation.n_nationkey)
           .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
           .filter(F.col("r_name") == "EUROPE")
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    cost = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.min(_dec("l_extendedprice")).alias("cost_dec")))
    j = (cost.join(F.broadcast(part), cost.l_partkey == part.p_partkey)
         .join(F.broadcast(eur), cost.l_suppkey == F.col("s_suppkey")))
    minc = j.groupBy(F.col("p_partkey").alias("mp")).agg(
        F.min("cost_dec").alias("min_dec"))
    return (j.join(F.broadcast(minc),
                   (j.p_partkey == F.col("mp"))
                   & (F.col("cost_dec") == F.col("min_dec")))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    F.col("cost_dec").cast("double").alias("supply_cost")))


def q20_excess_shipments(spark, sf_dir):
    """TPC-H q20 flavor: suppliers of PROMO parts whose 1996 shipments
    exceed half their all-time shipped quantity for that part (the
    available-stock comparison re-based on shipment history; cross-
    multiplied to stay division-free)."""
    li = _wh(spark, sf_dir)["lineitem"].read(
        projection=["l_partkey", "l_suppkey", "l_quantity", "l_shipdate"])
    part = _read(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    qty96 = F.sum(F.when(F.year("l_shipdate") == 1996, _dec("l_quantity"))
                  .otherwise(F.lit(0).cast("decimal(18,4)"))).alias("qty96")
    pairs = (li.groupBy("l_partkey", "l_suppkey")
             .agg(qty96, F.sum(_dec("l_quantity")).alias("qty_total"))
             .filter((F.col("qty96") * 2 > F.col("qty_total"))
                     & (F.col("qty96") > 0)))
    hot = (pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey,
                      "left_semi")
           .select("l_suppkey").distinct())
    return (hot.join(F.broadcast(supp), hot.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .select("s_suppkey", "s_name", "n_name"))


def stream_window_counts(spark, sf_dir):
    """Structured Streaming end-to-end: the paimon Python DataSource drained
    with availableNow, event-time watermark + 5-minute tumbling window
    counts (complete mode). Deterministic: equals the batch aggregation."""
    import uuid as _uuid
    t = _wh(spark, sf_dir)["events_stream"]
    sink = f"mem_{_uuid.uuid4().hex[:8]}"
    # Table.read_stream: availableNow drains ride Spark's JVM
    # FileStreamSource over a snapshot-scoped hardlink view — zero
    # Python in the data plane; the Python DataSource
    # (readStream.format('paimon')) remains the general path for
    # changelog/follow-up/merge-on-read streams (see PERF.md r7).
    sdf = t.read_stream()
    q = (sdf.withColumn("ets", _event_time(sdf))
         .withWatermark("ets", "7 days")
         .groupBy(F.window("ets", "5 minutes").alias("w"), "event_type")
         .agg(F.count("*").alias("cnt"))
         .writeStream.format("memory").queryName(sink)
         .outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return (spark.table(sink)
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), "event_type", "cnt"))


def variant_extract(spark, sf_dir):
    """Semi-structured VARIANT round-trip: JSON → parse_json → typed
    variant_get (Spark 4 native, JVM-side; ref SURVEY F6)."""
    from paimon_spark.functions.variant import to_variant, variant_get
    docs = _read(spark, sf_dir, "documents")
    js = F.concat(F.lit('{"lang":"'), F.col("lang"), F.lit('","n":'),
                  F.col("n_chars").cast("string"), F.lit("}"))
    with_v = docs.select("doc_id", to_variant(js).alias("v"))
    return with_v.select(
        "doc_id",
        variant_get("v", "$.lang", "string").alias("vlang"),
        variant_get("v", "$.n", "bigint").alias("vn"))


def sketch_hll_users(spark, sf_dir):
    """HLL sketch build+union per segment; emits exact count and a
    within-2% flag so the non-SQL estimate is still oracle-checkable."""
    from paimon_spark.functions.sketches import hll_estimate_col, hll_sketch_agg
    ev = _read(spark, sf_dir, "events")
    est = (ev.groupBy("event_type")
           .agg(hll_sketch_agg(F.col("user_id")).alias("sk"),
                F.countDistinct("user_id").cast("long").alias("exact_users"))
           .select("event_type", "exact_users",
                   hll_estimate_col(F.col("sk")).alias("est")))
    return est.select(
        "event_type", "exact_users",
        (F.abs(F.col("est") - F.col("exact_users"))
         <= 0.02 * F.col("exact_users") + F.lit(3)).alias("est_ok"))


def sketch_theta_custkeys(spark, sf_dir):
    from paimon_spark.functions.sketches import theta_estimate_col, theta_sketch_agg
    orders = _read(spark, sf_dir, "orders")
    est = (orders.groupBy("o_orderpriority")
           .agg(theta_sketch_agg(F.col("o_custkey")).alias("sk"),
                F.countDistinct("o_custkey").cast("long").alias("exact_keys"))
           .select("o_orderpriority", "exact_keys",
                   theta_estimate_col(F.col("sk")).alias("est")))
    return est.select(
        "o_orderpriority", "exact_keys",
        (F.abs(F.col("est") - F.col("exact_keys"))
         <= 0.05 * F.col("exact_keys") + F.lit(3)).alias("est_ok"))


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def cdc_sync_evolution(spark, sf_dir):
    """CDC sync-table action (SURVEY S11): final state of a table built
    purely from a debezium-shaped feed — insert batch, then a
    schema-evolving batch (new column) with updates and deletes."""
    t = _wh(spark, sf_dir)["orders_cdc"]
    return t.read(projection=["o_orderkey", "o_totalprice",
                              "o_orderstatus", "o_orderpriority"])


def iceberg_dv_mirror_read(spark, sf_dir):
    """Deletion-vector table read PURELY through its Iceberg mirror
    (v2 position-delete files applied by the chain reader)."""
    from paimon_spark.iceberg import read_iceberg
    t = _wh(spark, sf_dir)["events_dvice"]
    df = read_iceberg(spark, t.path)
    return (df.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.sum(_dec("value", 18, 6)).cast("double")
                 .alias("val_sum")))


def fulltext_bm25_topk(spark, sf_dir):
    """BM25 top-10 through the PERSISTED inverted index (term-bucketed
    posting lists, partition-pruned); the oracle replicates the exact
    BM25 formula in SQL, so index-path == formula is driver-gated."""
    t = _wh(spark, sf_dir)["docs_fts"]
    df = t.full_text_search("vector merge filter", k=50)
    return (df.select("doc_id", F.round("_score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


def pack_training_sequences(spark, sf_dir):
    """GPT-style sequence packing: documents laid back-to-back per shard
    in deterministic id order, chopped into 512-token training bins —
    one window shuffle, reproducible layout, summarized per (shard,
    bin_id)."""
    docs = _read(spark, sf_dir, "documents")
    packed = TX.pack_sequences(docs, 512, "doc_id", "text", n_shards=8)
    return (packed.groupBy("shard", "bin_id")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("tok"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("end_bin").alias("max_end_bin")))


def mixture_token_budget(spark, sf_dir):
    """Token-budget mixture sampling: per-lang hard token caps, docs
    chosen by deterministic hash rank until the budget fills."""
    docs = _read(spark, sf_dir, "documents")
    budgets = {"en": 4000, "zh": 1500, "fr": 800}
    kept = TX.token_budget_sample(docs, budgets, "lang", "doc_id",
                                  "text", default_budget=600)
    # Every aggregate explicitly cast to long: DuckDB's windowed
    # sum(int) is HUGEINT (int128) and the driver's pandas hash
    # canonicalization distinguishes dtypes even when values match
    # (r7 hash-only red; replica string-compare was green).
    return (kept.groupBy("lang")
            .agg(F.count("*").cast("long").alias("kept"),
                 F.sum("n_tokens").cast("long").alias("tokens"),
                 F.max("cum_tokens").cast("long").alias("used"),
                 F.sum("doc_id").cast("long").alias("id_sum")))


def winnow_doc_fingerprints(spark, sf_dir):
    """Winnowing (SIGMOD'03) local fingerprints per document: window-min
    over k-gram hashes — any shared substring of >= w+k-1 words shares a
    fingerprint. Pure Catalyst array ops, zero shuffle before the agg.
    Gated shape emits the sorted fingerprint list as ONE comma-joined
    string per doc — the driver's pandas canonicalizer cannot sort
    array cells (r7 red), and explode would push the winnow expression
    out of whole-stage codegen (measured 240x: Generate evaluates the
    nested lambda interpreted). The array-valued form stays under
    pytest parity."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws(",", TX.winnow_fingerprints(F.col("text"), k=5, w=4)
                    .cast("array<string>")).alias("fingerprints"))


def repeated_8gram_spans(spark, sf_dir):
    """Approximate exact-substring dedup: word 8-grams occurring in >= 2
    distinct documents, with token positions (the spans a training
    pipeline masks/cuts). One shuffle keyed on the gram."""
    docs = _read(spark, sf_dir, "documents")
    return TX.repeated_ngram_spans(docs, "doc_id", "text", n=8,
                                   min_count=2)


def cut_spans_clean_corpus(spark, sf_dir):
    """The full exact-substring dedup loop: detect cross-doc repeated
    8-gram spans, then CUT every covered token from each document —
    the masked-corpus output a training pipeline ships."""
    docs = _read(spark, sf_dir, "documents")
    spans = TX.repeated_ngram_spans(docs, "doc_id", "text", n=8,
                                    min_count=2)
    out = TX.cut_repeated_spans(docs, spans, "doc_id", "text", n=8)
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("clean_text"), "UTF-8")).alias("clean_hash"),
        "n_tokens_removed")


def sample_corpus(spark, sf_dir):
    """Deterministic stratified sampling for training mixes: per-lang
    keep rates via hash-mod on doc_id — reproducible across runs and
    cluster layouts (no rand()), exactly SQL-mirrorable."""
    docs = _read(spark, sf_dir, "documents")
    rates = {"en": 0.5, "zh": 1.0, "fr": 0.25}
    kept = TX.stratified_sample(docs, rates, "lang", "doc_id",
                                default_rate=0.1)
    return (kept.groupBy("lang")
            .agg(F.count("*").cast("long").alias("kept"),
                 F.min("doc_id").alias("min_id"),
                 F.sum("doc_id").cast("long").alias("id_sum")))


def embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column: per-vector
    scale + exact integer codes (q_sum/min/max are engine-exact)."""
    from paimon_spark.functions.similarity import quantize_embedding
    emb = _read(spark, sf_dir, "embeddings")
    qs = quantize_embedding(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(qs["scale"], 6).alias("scale"),
        F.aggregate(qs["q"], F.lit(0),
                    lambda a, x: a + x).cast("long").alias("q_sum"),
        F.array_min(qs["q"]).alias("q_min"),
        F.array_max(qs["q"]).alias("q_max"))


def sequence_field_latest(spark, sf_dir):
    """T6: user-defined sequence column decides the merge winner, not
    commit order (commits were applied sequence-descending)."""
    t = _wh(spark, sf_dir)["events_seq"]
    return t.read()


def default_values_read(spark, sf_dir):
    """F4: rows written before a column existed read back with the
    declared default value, not null."""
    t = _wh(spark, sf_dir)["orders_defaults"]
    return t.read()


def tag_travel_read(spark, sf_dir):
    """§2.10 tag lifecycle, driver-gated: reading by TAG resolves to the
    tagged snapshot's merged state (tag v2 pins snapshot 2, surviving
    the later delete and compaction)."""
    return _wh(spark, sf_dir)["orders_pk"].read(tag="v2")


def sql_function_charge(spark, sf_dir):
    """F7 persisted SQL function catalog, driver-gated: a catalog
    function (Catalyst-inlined native SQL UDF, no Python round-trip)
    applied inside an aggregation over lineitem."""
    from paimon_spark import Catalog
    t = _wh(spark, sf_dir)["lineitem"]
    cat = Catalog(os.path.dirname(t.path), spark)
    cat.create_function(
        "charge_fn",
        [("p", "DOUBLE"), ("d", "DOUBLE"), ("t", "DOUBLE")],
        "DECIMAL(18,6)",
        "CAST(p * (1 - d) * (1 + t) AS DECIMAL(18,6))", replace=True)
    df = t.read(projection=["l_returnflag", "l_extendedprice",
                            "l_discount", "l_tax"])
    return (df.withColumn(
                "charge",
                F.expr("charge_fn(l_extendedprice, l_discount, l_tax)"))
            .groupBy("l_returnflag")
            .agg(F.sum("charge").cast("double").alias("total_charge"),
                 F.count("*").cast("long").alias("n")))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 through the paimon_spark lakehouse table."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering contract: the round's correctness gate checks the FIRST
    50 entries, so the order decides which queries it attests.
    Current window:
    - six entries the r13-r14 optimisation rounds restructured and the
      gate has not attested since (pipeline_curated_corpus …
      zorder_cluster_preserves) lead;
    - the two dedup-index queries whose shared band-key index
      implementation changed last (dedup_incremental_index,
      dedup_embedding_incremental) follow;
    - then the 13 remaining r11-gated entries that sat just below the
      cut-off since r13 (text_stats … dedup_simhash);
    - then the first 29 of the r12-gated entries (url_canonical_dedup …
      sql_dml_roundtrip), which have not been in the window since r12.
    The rest of the r12-gated set spills just below and leads the next
    window; the r13 window (changelog_input_window, the r10 and r11
    re-attests) rotates to the bottom. ALL entries — gated or not — are
    oracle-checked every round by tests/test_oracle_parity.py (sf0.001)
    and tools/check_oracle.py (sf0.01)."""
    return {
        # --- gate window ---------------------------------------------
        # restructured in r13-r14, unattested since
        "pipeline_curated_corpus": pipeline_curated_corpus,
        "soft_dedup_weights": soft_dedup_weights,
        "ngram_lm_score": ngram_lm_score,
        "pipeline_clean_corpus": pipeline_clean_corpus,
        "iceberg_dv_mirror_read": iceberg_dv_mirror_read,
        "zorder_cluster_preserves": zorder_cluster_preserves,
        # restructured with the shared band-key index
        "dedup_incremental_index": dedup_incremental_index,
        "dedup_embedding_incremental": dedup_embedding_incremental,
        # remaining r11-gated entries (below the cut-off since r13)
        "text_stats": text_stats,
        "text_langid": text_langid,
        "text_repetition": text_repetition,
        "text_chunks": text_chunks,
        "sketch_hll_users": sketch_hll_users,
        "variant_extract": variant_extract,
        "stream_window_counts": stream_window_counts,
        "window_user_ranks": window_user_ranks,
        "pii_redact": pii_redact,
        "contamination_4gram": contamination_4gram,
        "bitmap_rowrange_lang": bitmap_rowrange_lang,
        "multimodal_bytes_meta": multimodal_bytes_meta,
        "dedup_simhash": dedup_simhash,
        # r12-gated entries, first 29
        "url_canonical_dedup": url_canonical_dedup,
        "boilerplate_scrub": boilerplate_scrub,
        "gopher_quality": gopher_quality,
        "changelog_decoupled_window": changelog_decoupled_window,
        "sample_corpus": sample_corpus,
        "q3_top_revenue": q3_top_revenue,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "topn_orders": topn_orders,
        "point_lookup": point_lookup,
        "metadata_count": metadata_count,
        "agg_engine_rich": agg_engine_rich,
        "changelog_old_vs_new": changelog_old_vs_new,
        "pk_after_delete": pk_after_delete,
        "cross_partition_upsert": cross_partition_upsert,
        "bucketed_mirror_read": bucketed_mirror_read,
        "audio_frame_energy": audio_frame_energy,
        "time_travel_v1": time_travel_v1,
        "sequence_field_latest": sequence_field_latest,
        "default_values_read": default_values_read,
        "tag_travel_read": tag_travel_read,
        "mixture_token_budget": mixture_token_budget,
        "winnow_doc_fingerprints": winnow_doc_fingerprints,
        "dedup_exact": dedup_exact,
        "embedding_quantize": embedding_quantize,
        "sql_function_charge": sql_function_charge,
        "datasource_write_pk": datasource_write_pk,
        "imv_user_totals": imv_user_totals,
        "merge_into_append": merge_into_append,
        "sql_dml_roundtrip": sql_dml_roundtrip,
        # =========== gate cut-off (first 50 above) ======================
        # the remaining r12-gated entries: they lead the next window
        "metadata_minmax": metadata_minmax,
        "transform_year_filter": transform_year_filter,
        "q5_region_revenue": q5_region_revenue,
        "q4_late_orders": q4_late_orders,
        "q10_returned_revenue": q10_returned_revenue,
        "q12_priority_class": q12_priority_class,
        "q14_promo_share": q14_promo_share,
        "q18_big_orders": q18_big_orders,
        "rollup_pricing": rollup_pricing,
        "q7_nation_volume": q7_nation_volume,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_important_parts": q11_important_parts,
        "q13_customer_orders": q13_customer_orders,
        "q15_top_supplier": q15_top_supplier,
        "q16_brand_suppliers": q16_brand_suppliers,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        # --- the r13 window (r13-new, r10 and r11 re-attests) ----------
        "changelog_input_window": changelog_input_window,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q22_idle_customers": q22_idle_customers,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q20_excess_shipments": q20_excess_shipments,
        "agg_engine_listagg": agg_engine_listagg,
        "agg_engine_merge_map": agg_engine_merge_map,
        "read_optimized_lag": read_optimized_lag,
        "cross_partition_pruned": cross_partition_pruned,
        "pk_avro_upsert": pk_avro_upsert,
        "format_csv_pk": format_csv_pk,
        "incremental_diff": incremental_diff,
        "clustered_write_prune": clustered_write_prune,
        "blob_roundtrip": blob_roundtrip,
        "audit_log_counts": audit_log_counts,
        "image_near_dup": image_near_dup,
        "agg_engine_user_stats": agg_engine_user_stats,
        "partial_update_orders": partial_update_orders,
        "first_row_events": first_row_events,
        "compact_preserves": compact_preserves,
        "dynamic_bucket_latest": dynamic_bucket_latest,
        "ann_brute_topk": ann_brute_topk,
        "ann_lsh_topk": ann_lsh_topk,
        "sketch_theta_custkeys": sketch_theta_custkeys,
        "dedup_minhash_bands": dedup_minhash_bands,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "stream_patched_followup": stream_patched_followup,
        "chain_stream_phase1": chain_stream_phase1,
        "stream_patched_drain": stream_patched_drain,
        "incremental_patched_images": incremental_patched_images,
        "q1_pricing_summary": q1_pricing_summary,
        "q6_revenue": q6_revenue,
        "pk_upsert_latest": pk_upsert_latest,
        "merge_full_surface": merge_full_surface,
        "iceberg_mirror_read": iceberg_mirror_read,
        "cdc_sync_evolution": cdc_sync_evolution,
        "fulltext_bm25_topk": fulltext_bm25_topk,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_clusters": dedup_clusters,
        "pack_training_sequences": pack_training_sequences,
        "repeated_8gram_spans": repeated_8gram_spans,
        "cut_spans_clean_corpus": cut_spans_clean_corpus,
        "colocated_join_priority": colocated_join_priority,
        "data_evolution_backfill": data_evolution_backfill,
        "embedding_centroid_classify": embedding_centroid_classify,
        "ann_ivf_topk": ann_ivf_topk,
        "text_quality": text_quality,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL on raw parquet views)
# ---------------------------------------------------------------------------

_MERGED_12 = """
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         CASE WHEN o_orderkey % 10 = 0 THEN '9-UPDATED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders
"""

_USER_STATS = """
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases,
         arg_max(event_type, event_id) AS last_event,
         max(value) AS max_value,
         max(event_id) AS event_id
  FROM events GROUP BY user_id
"""


def oracle_sql() -> dict[str, str]:
    disc = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
    charge = "CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))"
    ann_brute = f"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                 WHERE vec_id IN (0,1,2,3,4)),
      s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                   round({SIM.sql_cosine('q.qv', 'e.embedding')}, 4) AS score
            FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      r AS (SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM s)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
      FROM r WHERE rank <= 5"""
    ann_lsh = f"""
      WITH b AS (SELECT vec_id, embedding,
                        {SIM.sql_lsh_bucket('embedding', 4)} AS bucket_id
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qv, bucket_id FROM b
            WHERE vec_id IN (0,1,2,3,4)),
      s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                   round({SIM.sql_cosine('q.qv', 'c.embedding')}, 4) AS score
            FROM b c JOIN q USING (bucket_id) WHERE c.vec_id <> q.query_id),
      r AS (SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM s)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
      FROM r WHERE rank <= 5"""
    _c = SIM.sql_cosine
    ann_ivf = f"""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cv
                     FROM embeddings WHERE vec_id < 16),
      assign AS (
        SELECT vec_id, embedding, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cid) AS r
        FROM (SELECT e.vec_id, e.embedding, c.cid,
                     round({_c('e.embedding', 'c.cv')}, 6) AS sim
              FROM embeddings e, cents c)),
      member AS (SELECT vec_id, embedding, cid AS cluster
                 FROM assign WHERE r = 1),
      probes AS (
        SELECT query_id, qv, cid AS cluster FROM (
          SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY round({_c('q.embedding', 'c.cv')}, 6)
                                             DESC, c.cid) AS r
          FROM embeddings q, cents c WHERE q.vec_id IN (0,1,2,3,4))
        WHERE r <= 2),
      cand AS (SELECT p.query_id, m.vec_id AS neighbor_id,
                      round({_c('p.qv', 'm.embedding')}, 4) AS score
               FROM member m JOIN probes p ON m.cluster = p.cluster
               WHERE m.vec_id <> p.query_id),
      rnk AS (SELECT query_id, neighbor_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, neighbor_id)
                     AS rank
              FROM cand)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
      FROM rnk WHERE rank <= 5"""
    _sb = SIM.sql_sign_bits("embedding", 8)
    _bands = ", ".join(
        f"({i} * 4 + __b{2 * i} + 2 * __b{2 * i + 1})" for i in range(4))
    # mirrors the engine's hot-bucket guard (dedupe_exact_first=True):
    # identical vectors collapse to a min-id rep before banding; the
    # exact-copy group joins back as (rep, member) chain pairs through the
    # same exact-cosine verify.
    emb_near_dup = f"""
      WITH g AS (SELECT vec_id, embedding,
                        min(vec_id) OVER (PARTITION BY embedding) AS rep
                 FROM embeddings),
      chain AS (SELECT rep AS id_a, vec_id AS id_b FROM g WHERE vec_id <> rep),
      reps AS (SELECT vec_id, embedding FROM g WHERE vec_id = rep),
      s AS (SELECT vec_id, embedding,
                   {', '.join(f'{e} AS __b{j}' for j, e in enumerate(_sb))}
            FROM reps),
      k AS (SELECT vec_id, embedding, [{_bands}] AS bks FROM s),
      e AS (SELECT vec_id, embedding, unnest(bks) AS bk FROM k),
      p AS (SELECT DISTINCT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.bk = b.bk AND a.vec_id < b.vec_id
            UNION ALL SELECT id_a, id_b FROM chain))
      SELECT id_a, id_b,
             round({SIM.sql_cosine('ea.embedding', 'eb.embedding')}, 4) AS score
      FROM p JOIN embeddings ea ON ea.vec_id = p.id_a
             JOIN embeddings eb ON eb.vec_id = p.id_b
      WHERE round({SIM.sql_cosine('ea.embedding', 'eb.embedding')}, 4) >= 0.4"""
    _PACK = TX.sql_pack_sequences(512, "doc_id", "text", n_shards=8)
    _MIX = TX.sql_token_budget({"en": 4000, "zh": 1500, "fr": 800},
                               "lang", "doc_id", "text",
                               default_budget=600)
    mh = DD.sql_minhash_signature("text", 16)
    bands = DD.sql_band_keys(16, 4)
    inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
    # sign-LSH at the embedding dedup index's defaults: 16 planes,
    # 4-bit bands → key = band_idx*16 + Σ bit_j·2^j
    _sb16 = ", ".join(
        f"{e} AS __b{j}"
        for j, e in enumerate(SIM.sql_sign_bits("embedding", 16)))
    _bands16 = ", ".join(
        f"({i} * 16 + __b{4 * i} + 2 * __b{4 * i + 1} "
        f"+ 4 * __b{4 * i + 2} + 8 * __b{4 * i + 3})" for i in range(4))
    _cos_nd = SIM.sql_cosine("ea.embedding", "eb.embedding")
    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM({disc}) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM({charge}) AS DOUBLE) AS sum_charge,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01'
            GROUP BY l_returnflag, l_linestatus""",
        "q3_top_revenue": f"""
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority, CAST(SUM({disc}) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1997-06-30'
              AND l_shipdate > TIMESTAMP '1997-06-30'
            GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        "q5_region_revenue": f"""
            SELECT n_name, CAST(SUM({disc}) AS DOUBLE) AS revenue
            FROM lineitem, orders, supplier, customer, nation, region
            WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
              AND o_custkey = c_custkey AND c_nationkey = s_nationkey
              AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
            GROUP BY n_name""",
        "q6_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
                       AS revenue,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0""",
        "q4_late_orders": """
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority""",
        "q10_returned_revenue": f"""
            SELECT c_custkey, c_name, CAST(SUM({disc}) AS DOUBLE) AS revenue
            FROM lineitem, orders, customer
            WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
              AND o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 20""",
        "q12_priority_class": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_count
            FROM lineitem, orders WHERE l_orderkey = o_orderkey
            GROUP BY l_linestatus""",
        "q14_promo_share": f"""
            SELECT round(100.0
                * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {disc}
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                / CAST(SUM({disc}) AS DOUBLE), 4) AS promo_share
            FROM lineitem, part WHERE l_partkey = p_partkey""",
        "q18_big_orders": """
            WITH big AS (
              SELECT l_orderkey,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150)
            SELECT c_name, o_orderkey, sum_qty,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
            FROM big, orders, customer
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
            ORDER BY sum_qty DESC, o_orderkey LIMIT 20""",
        "topn_orders": f"""
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM ({_MERGED_12}) WHERE NOT (o_orderkey % 7 = 3)
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
        "point_lookup": f"""
            SELECT * FROM ({_MERGED_12})
            WHERE o_orderkey = 20 AND NOT (o_orderkey % 7 = 3)""",
        "metadata_count": "SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem",
        "metadata_minmax": """
            SELECT strftime(min(l_shipdate), '%Y-%m-%d') AS min_shipdate,
                   strftime(max(l_shipdate), '%Y-%m-%d') AS max_shipdate
            FROM lineitem""",
        "transform_year_filter": f"""
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total
            FROM ({_MERGED_12})
            WHERE NOT (o_orderkey % 7 = 3)
              AND year(CAST(o_orderdate AS DATE)) = 1996
            GROUP BY o_orderpriority""",
        "agg_engine_rich": """
            SELECT o_orderpriority AS prio,
                   array_to_string(list_sort(list(DISTINCT o_orderstatus)),
                                   ',') AS statuses,
                   array_to_string(list_sort(list(DISTINCT o_custkey % 64)),
                                   ',') AS cust_set,
                   bool_or(o_totalprice > 200000) AS any_high,
                   bool_and(o_orderstatus = 'F') AS all_f,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1""",
        "agg_engine_listagg": """
            SELECT o_orderstatus AS st,
                   string_agg(o_orderpriority, ',' ORDER BY o_orderkey)
                       AS prio
            FROM orders WHERE o_orderkey % 199 = 0 GROUP BY 1""",
        "agg_engine_merge_map": """
            WITH last AS (
              SELECT o_orderstatus AS st, o_orderpriority AS prio,
                     max(o_orderkey) AS okey
              FROM orders WHERE o_orderkey % 97 = 0 GROUP BY 1, 2)
            SELECT st, array_to_string(
                       list_sort(list(prio || '=' || CAST(okey AS VARCHAR))),
                       ',') AS m_entries
            FROM last GROUP BY st""",
        "changelog_decoupled_window": """
            WITH base AS (SELECT o_orderkey AS k,
                                 CAST(o_totalprice AS DECIMAL(18,4)) AS p
                          FROM orders WHERE o_orderkey % 20 = 0)
            SELECT k AS o_orderkey, CAST(p AS DOUBLE) AS price,
                   '-U' AS kind FROM base WHERE k % 3 = 0
            UNION ALL
            SELECT k, CAST(p + 1000 AS DOUBLE), '+U' FROM base
            WHERE k % 3 = 0
            UNION ALL
            SELECT k, CAST(p AS DOUBLE), '-D' FROM base
            WHERE k % 5 = 0 AND k % 3 != 0""",
        "changelog_input_window": """
            WITH base AS (SELECT o_orderkey AS k,
                                 CAST(o_totalprice AS DECIMAL(18,4)) AS p
                          FROM orders WHERE o_orderkey % 20 = 0)
            SELECT k AS o_orderkey, CAST(p + 1000 AS DOUBLE) AS price,
                   '+I' AS kind FROM base WHERE k % 3 = 0
            UNION ALL
            SELECT k, CAST(p AS DOUBLE), '-D' FROM base
            WHERE k % 5 = 0 AND k % 3 != 0""",
        "changelog_old_vs_new": """
            WITH changed AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 7 = 3 THEN 'del'
                          WHEN o_orderkey % 10 = 0 THEN 'upd'
                     END AS chg
              FROM orders),
            kinds AS (
              SELECT '-D' AS _row_kind, o_orderkey
              FROM changed WHERE chg = 'del'
              UNION ALL
              SELECT '-U', o_orderkey FROM changed WHERE chg = 'upd'
              UNION ALL
              SELECT '+U', o_orderkey FROM changed WHERE chg = 'upd')
            SELECT _row_kind, CAST(count(*) AS BIGINT) AS cnt,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM kinds GROUP BY 1""",
        "read_optimized_lag": """
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total
            FROM orders WHERE o_orderkey % 3 = 0
            GROUP BY o_orderstatus""",
        "pk_upsert_latest": _MERGED_12,
        "colocated_join_priority": """
            WITH merged AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 10 = 0 THEN '9-UPDATED'
                          ELSE o_orderpriority END AS o_orderpriority
              FROM orders WHERE o_orderkey % 7 <> 3),
            ls AS (
              SELECT l_orderkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
                     SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))) AS revenue
              FROM lineitem GROUP BY 1)
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(SUM(sum_qty) AS DOUBLE) AS qty,
                   CAST(SUM(revenue) AS DOUBLE) AS revenue
            FROM merged JOIN ls ON o_orderkey = l_orderkey
            GROUP BY 1""",
        "cross_partition_upsert": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 10 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   CAST(CASE WHEN o_orderkey % 10 = 0
                             THEN o_totalprice + 1000.0
                             ELSE o_totalprice END AS DOUBLE) AS total
            FROM orders
        """,
        "cross_partition_pruned": """
            SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
            FROM orders
            WHERE o_orderstatus = 'O' AND o_orderkey % 10 <> 0
        """,
        "sql_dml_roundtrip": """
            SELECT n_nationkey, n_name,
                   CASE WHEN n_nationkey % 5 = 0 THEN 99
                        ELSE n_regionkey END AS n_regionkey
            FROM nation WHERE n_nationkey % 7 <> 3
        """,
        "format_csv_pk": """
            SELECT s_suppkey, s_name,
                   CAST(CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100.0
                             ELSE s_acctbal END AS DOUBLE) AS acctbal
            FROM supplier
        """,
        "pk_avro_upsert": """
            SELECT o_orderkey, o_orderstatus,
                   CAST(CASE WHEN o_orderkey % 9 = 0
                             THEN o_totalprice + 500.0
                             ELSE o_totalprice END AS DOUBLE) AS total
            FROM orders WHERE o_orderkey % 3 = 0
        """,
        "merge_into_append": """
            WITH merged AS (
              SELECT p_partkey,
                     CAST(CASE WHEN p_partkey % 10 = 0
                               THEN p_retailprice + 1000.0
                               ELSE p_retailprice END AS DOUBLE) AS price,
                     p_brand
              FROM part
              UNION ALL
              SELECT p_partkey + 3000000,
                     CAST(p_retailprice AS DOUBLE) AS price, p_brand
              FROM part WHERE p_partkey % 97 = 0
            )
            SELECT * FROM merged
            WHERE NOT (p_partkey % 7 = 3 AND p_partkey < 3000000)
        """,
        "datasource_write_pk": """
            SELECT c_custkey, c_name,
                   CAST(CASE WHEN c_custkey % 4 = 1
                             THEN c_acctbal + 500 ELSE c_acctbal END
                        AS DOUBLE) AS acctbal,
                   CASE WHEN c_custkey % 4 = 1
                        THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
            FROM customer
        """,
        "merge_full_surface": """
            WITH src AS (
              SELECT s_suppkey, 'SRC-' || s_name AS s_name,
                     s_acctbal + 100 AS s_acctbal
              FROM supplier WHERE s_suppkey % 2 = 0
              UNION ALL
              SELECT s_suppkey + 1000000, s_name, s_acctbal
              FROM supplier WHERE s_suppkey % 5 = 0
            ),
            tgt AS (SELECT s_suppkey, s_name, s_acctbal FROM supplier),
            matched_out AS (
              SELECT t.s_suppkey,
                     CASE WHEN s.s_acctbal > 5000 THEN t.s_name
                          ELSE s.s_name END AS s_name,
                     CAST(CASE WHEN s.s_acctbal > 5000
                               THEN t.s_acctbal + s.s_acctbal
                               ELSE t.s_acctbal END AS DOUBLE) AS acctbal
              FROM tgt t JOIN src s ON t.s_suppkey = s.s_suppkey
              WHERE NOT (t.s_acctbal < 0)
            ),
            nmbs_out AS (
              SELECT s_suppkey, s_name,
                     CAST(s_acctbal * 2 AS DOUBLE) AS acctbal
              FROM tgt
              WHERE s_suppkey NOT IN (SELECT s_suppkey FROM src)
                AND s_suppkey % 10 <> 7
            ),
            ins_out AS (
              SELECT s.s_suppkey, upper(s.s_name) AS s_name,
                     CAST(s.s_acctbal AS DOUBLE) AS acctbal
              FROM src s
              WHERE s.s_suppkey NOT IN (SELECT s_suppkey FROM tgt)
                AND s.s_acctbal > 1000
            )
            SELECT * FROM matched_out
            UNION ALL SELECT * FROM nmbs_out
            UNION ALL SELECT * FROM ins_out
        """,
        "pk_after_delete": f"SELECT * FROM ({_MERGED_12}) WHERE NOT (o_orderkey % 7 = 3)",
        "bucketed_mirror_read": f"""
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM ({_MERGED_12}) WHERE NOT (o_orderkey % 7 = 3)
            GROUP BY o_orderstatus""",
        "time_travel_v1": """
            SELECT o_orderkey, o_orderstatus, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
            FROM orders""",
        "incremental_diff": """
            SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   '9-UPDATED' AS o_orderpriority,
                   CAST(2 AS BIGINT) AS _sequence_number, '+I' AS _row_kind
            FROM orders WHERE o_orderkey % 10 = 0""",
        "imv_user_totals": """
            SELECT user_id,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
                        AS DECIMAL(18,6)) AS DOUBLE) AS total_value,
                   count(event_id) AS n_events
            FROM events GROUP BY user_id""",
        "clustered_write_prune": """
            SELECT event_type, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS val_sum
            FROM events WHERE user_id = 7 GROUP BY event_type""",
        "blob_roundtrip": """
            WITH b AS (SELECT lang,
                              sum(octet_length(encode(text))) AS lang_bytes
                       FROM documents GROUP BY lang)
            SELECT d.doc_id,
                   CAST(octet_length(encode(d.text)) AS BIGINT) AS blob_len,
                   md5(d.text) AS blob_md5,
                   CAST(b.lang_bytes AS BIGINT) AS lang_bytes
            FROM documents d JOIN b USING (lang)""",
        "iceberg_mirror_read": """
            SELECT event_type, count(*) AS cnt,
                   CAST(sum(CAST(CASE WHEN event_type = 'click' THEN 0.0
                                      ELSE value END AS DECIMAL(18,6)))
                        AS DOUBLE) AS val_sum
            FROM events GROUP BY event_type""",
        "cdc_sync_evolution": """
            SELECT o_orderkey,
                   CAST(CASE WHEN o_orderkey % 8 = 0
                             THEN o_totalprice + 1000.0
                             ELSE o_totalprice END AS DOUBLE)
                       AS o_totalprice,
                   o_orderstatus,
                   CASE WHEN o_orderkey % 8 = 0 THEN o_orderpriority
                        END AS o_orderpriority
            FROM orders
            WHERE o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0""",
        "iceberg_dv_mirror_read": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS val_sum
            FROM events
            WHERE event_type <> 'click' AND event_id >= 100
            GROUP BY event_type""",
        "fulltext_bm25_topk": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                                 '[^a-z0-9]+'), t -> t <> '') AS toks
              FROM documents),
            stats AS (SELECT count(*) AS n,
                             avg(len(toks)) AS avgdl FROM d),
            tf AS (SELECT doc_id, len(toks) AS dl,
                     len(list_filter(toks, t -> t = 'vector')) AS tf0,
                     len(list_filter(toks, t -> t = 'merge'))  AS tf1,
                     len(list_filter(toks, t -> t = 'filter')) AS tf2
                   FROM d),
            dfreq AS (SELECT sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
                      FROM tf),
            scored AS (SELECT doc_id,
                ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
                  * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
              + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
                  * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
              + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
                  * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                AS s
              FROM tf, stats, dfreq)
            SELECT doc_id, round(s, 4) AS score FROM scored
            WHERE s > 0 ORDER BY score DESC, doc_id LIMIT 10""",
        "sample_corpus": f"""
            SELECT lang, CAST(count(*) AS BIGINT) AS kept,
                   min(doc_id) AS min_id,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM documents
            WHERE {TX.sql_sample_cond('doc_id', 'lang',
                                      {'en': 0.5, 'zh': 1.0, 'fr': 0.25},
                                      0.1)}
            GROUP BY lang""",
        "pack_training_sequences": f"""
            WITH p AS (SELECT doc_id,
                              {_PACK['shard']} AS shard,
                              {_PACK['n_tokens']} AS n_tokens,
                              {_PACK['start_offset']} AS start_offset,
                              {_PACK['bin_id']} AS bin_id,
                              {_PACK['end_bin']} AS end_bin
                       FROM documents)
            SELECT shard, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tok,
                   min(doc_id) AS first_doc,
                   max(end_bin) AS max_end_bin
            FROM p GROUP BY shard, bin_id""",
        "mixture_token_budget": f"""
            WITH t AS (SELECT doc_id, lang,
                              {_MIX['n_tokens']} AS n_tokens,
                              {_MIX['cum_tokens']} AS cum_tokens,
                              {_MIX['keep']} AS keep
                       FROM documents)
            SELECT lang, CAST(count(*) AS BIGINT) AS kept,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens,
                   CAST(max(cum_tokens) AS BIGINT) AS used,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM t WHERE keep GROUP BY lang""",
        "winnow_doc_fingerprints": f"""
            SELECT doc_id,
                   COALESCE(array_to_string({TX.sql_winnow('text', 5, 4)},
                                            ','), '') AS fingerprints
            FROM documents""",
        "repeated_8gram_spans":
            TX.sql_repeated_ngram_spans("doc_id", "text", 8, 2),
        "cut_spans_clean_corpus": f"""
            WITH cutout AS ({TX.sql_cut_repeated_spans('doc_id', 'text',
                                                       8, 2)})
            SELECT doc_id, md5(clean_text) AS clean_hash,
                   n_tokens_removed
            FROM cutout""",
        "embedding_quantize": f"""
            WITH q AS (SELECT vec_id,
                              {SIM.sql_quantize('embedding')['scale']} AS scale,
                              {SIM.sql_quantize('embedding')['q']} AS qv
                       FROM embeddings)
            SELECT vec_id, round(scale, 6) AS scale,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   CAST(list_min(qv) AS INT) AS q_min,
                   CAST(list_max(qv) AS INT) AS q_max
            FROM q""",
        "sequence_field_latest": """
            SELECT user_id,
                   arg_max(event_id, event_id) AS event_id,
                   arg_max(event_type, event_id) AS event_type,
                   CAST(arg_max(value, event_id) AS DOUBLE) AS value
            FROM events GROUP BY user_id""",
        "default_values_read": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus
                        ELSE 'NEW' END AS status
            FROM orders""",
        "tag_travel_read": _MERGED_12,
        "sql_function_charge": """
            SELECT l_returnflag,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) AS DECIMAL(18,6)))
                        AS DOUBLE) AS total_charge,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_returnflag""",
        "audit_log_counts": """
            SELECT '+I' AS rowkind,
                   CAST((SELECT count(*) FROM orders)
                      + (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 0)
                      AS BIGINT) AS cnt
            UNION ALL
            SELECT '-D', CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 7 = 3""",
        "agg_engine_user_stats": _USER_STATS,
        "partial_update_orders": """
            SELECT o_orderkey AS order_id,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS status,
                   CASE WHEN o_orderkey % 3 = 0 THEN CAST(2 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) END AS s_ts,
                   o_totalprice AS amount,
                   CAST(1 AS BIGINT) AS a_ts,
                   CASE WHEN o_orderkey % 5 = 0 THEN 'halved'
                        ELSE o_orderpriority END AS note
            FROM orders""",
        "first_row_events": """
            SELECT user_id, event_type,
                   arg_min(event_id, event_id) AS event_id,
                   arg_min(value, event_id) AS value
            FROM events GROUP BY user_id, event_type""",
        "compact_preserves": _USER_STATS,
        "dynamic_bucket_latest": """
            SELECT user_id, event_type,
                   arg_max(event_id, event_id) AS event_id,
                   arg_max(value, event_id) AS value
            FROM events GROUP BY user_id, event_type""",
        "zorder_cluster_preserves": """
            SELECT l_returnflag,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem WHERE l_partkey < 1000 GROUP BY l_returnflag""",
        "dedup_exact": """
            SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY md5(text)""",
        "dedup_minhash_bands": f"""
            SELECT doc_id, {', '.join(bands)}
            FROM (SELECT doc_id, {', '.join(mh)} FROM documents)""",
        "dedup_minhash_pairs": f"""
            WITH g AS (SELECT doc_id, text,
                              min(doc_id) OVER (PARTITION BY md5(text)) AS rep
                       FROM documents),
            chain AS (SELECT rep AS id_a, doc_id AS id_b
                      FROM g WHERE doc_id <> rep),
            reps AS (SELECT doc_id, text FROM g WHERE doc_id = rep),
            sig AS (SELECT doc_id, {', '.join(mh)} FROM reps),
            bk AS (SELECT doc_id, {', '.join(bands)} FROM sig),
            st AS (
              SELECT doc_id, '0#' || band0 AS bk FROM bk UNION ALL
              SELECT doc_id, '1#' || band1 FROM bk UNION ALL
              SELECT doc_id, '2#' || band2 FROM bk UNION ALL
              SELECT doc_id, '3#' || band3 FROM bk)
            SELECT DISTINCT id_a, id_b FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM st a JOIN st b ON a.bk = b.bk AND a.doc_id < b.doc_id
              UNION ALL SELECT id_a, id_b FROM chain)""",
        "dedup_clusters": f"""
            WITH RECURSIVE sig AS (SELECT doc_id, {', '.join(mh)} FROM documents),
            bk AS (SELECT doc_id, {', '.join(bands)} FROM sig),
            st AS (
              SELECT doc_id, '0#' || band0 AS bk FROM bk UNION ALL
              SELECT doc_id, '1#' || band1 FROM bk UNION ALL
              SELECT doc_id, '2#' || band2 FROM bk UNION ALL
              SELECT doc_id, '3#' || band3 FROM bk),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM st a JOIN st b ON a.bk = b.bk AND a.doc_id < b.doc_id),
            sym AS (SELECT id_a AS a, id_b AS b FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id,
                   a = least(a, min(b)) AS is_survivor
            FROM reach GROUP BY a""",
        "dedup_simhash": f"""
            SELECT doc_id, {DD.sql_simhash('text', 32)} AS simhash FROM documents""",
        "soft_dedup_weights": f"""
            WITH RECURSIVE sig AS (SELECT doc_id, {', '.join(mh)} FROM documents),
            bk AS (SELECT doc_id, {', '.join(bands)} FROM sig),
            st AS (
              SELECT doc_id, '0#' || band0 AS bk FROM bk UNION ALL
              SELECT doc_id, '1#' || band1 FROM bk UNION ALL
              SELECT doc_id, '2#' || band2 FROM bk UNION ALL
              SELECT doc_id, '3#' || band3 FROM bk),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM st a JOIN st b ON a.bk = b.bk AND a.doc_id < b.doc_id),
            sym AS (SELECT id_a AS a, id_b AS b FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
            cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                   FROM reach GROUP BY a),
            allc AS (SELECT d.doc_id,
                            coalesce(cl.cluster_id, d.doc_id) AS cluster_id
                     FROM documents d LEFT JOIN cl USING (doc_id)),
            sz AS (SELECT cluster_id, count(*) AS n FROM allc GROUP BY 1)
            SELECT allc.doc_id, allc.cluster_id,
                   CAST(sz.n AS BIGINT) AS cluster_size,
                   round(1.0 / sz.n, 6) AS weight
            FROM allc JOIN sz USING (cluster_id)""",
        "ngram_lm_score": TX.sql_ngram_lm_quality(),
        "pipeline_curated_corpus": f"""
            WITH RECURSIVE lm AS ({TX.sql_ngram_lm_quality()}),
            sig AS (SELECT doc_id, {', '.join(mh)} FROM documents),
            bkx AS (SELECT doc_id, {', '.join(bands)} FROM sig),
            stx AS (
              SELECT doc_id, '0#' || band0 AS bk FROM bkx UNION ALL
              SELECT doc_id, '1#' || band1 FROM bkx UNION ALL
              SELECT doc_id, '2#' || band2 FROM bkx UNION ALL
              SELECT doc_id, '3#' || band3 FROM bkx),
            prs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM stx a JOIN stx b ON a.bk = b.bk AND a.doc_id < b.doc_id),
            sym AS (SELECT id_a AS a, id_b AS b FROM prs
                    UNION ALL SELECT id_b, id_a FROM prs),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
            cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                   FROM reach GROUP BY a),
            surv AS (SELECT d.doc_id, d.lang,
                            len({TX.sql_tokens('d.text')}) AS nt
                     FROM documents d LEFT JOIN cl USING (doc_id)
                     WHERE coalesce(cl.cluster_id, d.doc_id) = d.doc_id)
            SELECT surv.lang, CAST(count(*) AS BIGINT) AS docs_kept,
                   CAST(SUM(surv.nt) AS BIGINT) AS total_tokens,
                   round(avg(lm.lm_score), 6) AS mean_lm
            FROM surv JOIN lm USING (doc_id)
            WHERE lm.lm_score >= -6.5
            GROUP BY surv.lang""",
        "url_canonical_dedup": f"""
            WITH d AS (SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                      ELSE 'https://www.' END
                 || source || '.Example.COM'
                 || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
                 || '/d/' || CAST(doc_id % 40 AS VARCHAR)
                 || CASE WHEN doc_id % 3 = 0
                         THEN '?utm_source=feed&utm_campaign=c'
                         WHEN doc_id % 3 = 1 THEN '/#frag'
                         ELSE '' END) AS url
              FROM documents)
            SELECT {TX.sql_canonical_url('url')} AS canonical_url,
                   min(doc_id) AS keep_id,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM d GROUP BY 1""",
        "gopher_quality": (lambda r: f"""
            SELECT doc_id,
                   {r['word_count_ok']} AS word_count_ok,
                   {r['mean_word_len_ok']} AS mean_word_len_ok,
                   {r['symbol_ratio_ok']} AS symbol_ratio_ok,
                   {r['bullet_ratio_ok']} AS bullet_ratio_ok,
                   {r['ellipsis_ratio_ok']} AS ellipsis_ratio_ok,
                   {r['alpha_word_ok']} AS alpha_word_ok,
                   {r['stopword_ok']} AS stopword_ok,
                   ({r['word_count_ok']} AND {r['mean_word_len_ok']}
                    AND {r['symbol_ratio_ok']} AND {r['bullet_ratio_ok']}
                    AND {r['ellipsis_ratio_ok']} AND {r['alpha_word_ok']}
                    AND {r['stopword_ok']})
                       AS passes
            FROM documents""")(TX.sql_gopher_rules("text", min_words=10)),
        "boilerplate_scrub": TX.sql_scrub_boilerplate(
            "(SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 THEN "
            "'. Subscribe to our newsletter today. All rights reserved "
            "to the site operator' ELSE '' END AS text FROM documents) "
            "aug", min_docs=3),
        # pair selection re-derived from the driver-side dHash fixture:
        # same guard (equal-hash collapse to min-id rep + chain), same
        # band keys, exact xor/bit_count Hamming — only decode (pinned
        # by pytest) is outside SQL's reach
        "image_near_dup": f"""
            WITH d AS (SELECT * FROM read_parquet('{_write_image_fixture()}')),
            r AS (SELECT *, min(asset_id) OVER (PARTITION BY dhash) AS rep
                  FROM d),
            chain AS (SELECT rep AS id_a, asset_id AS id_b,
                             CAST(0 AS INTEGER) AS hamming
                      FROM r WHERE asset_id <> rep),
            reps AS (SELECT * FROM r WHERE asset_id = rep),
            s AS (SELECT asset_id, dhash, b AS band_idx,
                         CASE b WHEN 0 THEN band0 WHEN 1 THEN band1
                                WHEN 2 THEN band2 ELSE band3 END AS bv
                  FROM reps, (VALUES (0), (1), (2), (3)) t(b)),
            cand AS (
              SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
                     CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER)
                         AS hamming
              FROM s a JOIN s b
                ON a.band_idx = b.band_idx AND a.bv = b.bv
                   AND a.asset_id < b.asset_id
              WHERE bit_count(xor(a.dhash, b.dhash)) <= 3)
            SELECT id_a, id_b, hamming FROM cand
            UNION
            SELECT id_a, id_b, hamming FROM chain""",
        "audio_frame_energy": """
            WITH specs(asset_id, freq, amp) AS (
              VALUES (1, 440.0, 0.5), (2, 2200.0, 0.25), (3, 0.0, 0.0)),
            s AS (
              SELECT asset_id,
                     CAST(i AS BIGINT) AS i,
                     round(amp * sin(2 * pi() * freq * i / 16000.0)
                           * 32767) / 32768.0 AS x
              FROM specs, unnest(range(0, 8000)) AS r(i)),
            w AS (
              SELECT asset_id, i, x,
                     CAST(floor(i / 512) AS BIGINT) AS frame_idx,
                     lag(x) OVER (PARTITION BY asset_id ORDER BY i) AS px
              FROM s WHERE i < 15 * 512)
            SELECT asset_id, frame_idx,
                   round(sqrt(avg(x * x)), 6) AS rms,
                   round(SUM(CASE WHEN i % 512 <> 0
                                   AND sign(x) <> sign(px)
                             THEN 1 ELSE 0 END) / 511.0, 6) AS zcr
            FROM w GROUP BY asset_id, frame_idx""",
        "ngram_jaccard_pairs": f"""
            WITH d AS (SELECT doc_id, list_distinct({DD.sql_shingles('text')}) AS sh
                       FROM documents WHERE doc_id < 40)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round({inter} * 1.0 / (len(a.sh) + len(b.sh) - {inter}), 6) AS jaccard
            FROM d a, d b
            WHERE a.doc_id < b.doc_id AND {inter} > 0""",
        "text_quality": f"SELECT doc_id, {TX.sql_quality('text')} AS quality FROM documents",
        "text_stats": f"""
            SELECT doc_id,
                   CAST(len({TX.sql_tokens('text')}) AS BIGINT) AS n_tokens,
                   CAST({TX.sql_bpe_count('text')} AS BIGINT) AS n_bpe,
                   {TX.sql_fingerprint('text')} AS fingerprint
            FROM documents""",
        "text_langid": f"SELECT doc_id, {TX.sql_lang_id('text')} AS lang_pred FROM documents",
        "text_repetition": f"""
            SELECT doc_id, {TX.sql_repetition('text')} AS rep_ratio,
                   len({TX.sql_sentences('text')}) AS n_sentences
            FROM documents""",
        "text_chunks": f"""
            WITH w AS (
              SELECT doc_id, {TX.sql_words('text')} AS words FROM documents
            ), e AS (
              SELECT doc_id, words,
                     unnest(range(CAST(greatest(
                         floor((len(words)-1)/32.0), 0) AS BIGINT) + 1))
                         AS i
              FROM w
            )
            SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                   array_to_string(words[(i*32+1):(i*32+64)], ' ') AS chunk
            FROM e""",
        "pii_redact": r"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id
                          || '@example.com ip 10.0.0.' || (doc_id % 256)
                         AS t
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                        AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t,
                        '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
                   CAST(length(regexp_replace(regexp_replace(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '[PII]', 'g'),
                        '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'))
                        AS BIGINT) AS red_len
            FROM aug""",
        "contamination_4gram": """
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 t -> t <> '') AS w
              FROM documents),
            ng AS (
              SELECT doc_id, array_to_string(w[s:s+3], ' ') AS g
              FROM tok,
                   unnest(generate_series(1, greatest(len(w)-3, 0))) AS t(s)),
            bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 0)
            SELECT ng.doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_shared
            FROM ng JOIN bench USING (g)
            WHERE ng.doc_id % 97 <> 0
            GROUP BY ng.doc_id""",
        "bitmap_rowrange_lang":
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE lang = 'fr'",
        "ann_brute_topk": ann_brute,
        "ann_lsh_topk": ann_lsh,
        "ann_ivf_topk": ann_ivf,
        "embedding_centroid_classify": SIM.sql_centroid_classify(),
        "data_evolution_backfill": """
            WITH s AS (
              SELECT doc_id, lang, source, n_chars,
                     CASE WHEN source = 'src0' THEN 9.9
                          WHEN lang = 'fr' THEN 0.0
                          WHEN lang = 'en'
                            THEN CAST(n_chars AS DOUBLE) / 1000.0
                     END AS quality
              FROM documents)
            SELECT doc_id, lang, source, n_chars, quality
            FROM s WHERE quality IS NULL OR quality <> 0.0""",
        "stream_patched_drain": """
            WITH s AS (
              SELECT doc_id, lang, n_chars,
                     CASE WHEN source = 'src0' THEN 9.9
                          WHEN lang = 'fr' THEN 0.0
                          WHEN lang = 'en'
                            THEN CAST(n_chars AS DOUBLE) / 1000.0
                     END AS quality
              FROM documents)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   round(sum(quality), 4) AS q_sum
            FROM s WHERE quality IS NULL OR quality <> 0.0
            GROUP BY lang""",
        "incremental_patched_images": """
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
                   round(CASE WHEN lang = 'en'
                              THEN CAST(n_chars AS DOUBLE) / 1000.0
                              WHEN lang = 'fr' THEN 0.0 END, 6) AS quality
            FROM documents WHERE lang IN ('en', 'fr')""",
        "dedup_incremental_index": f"""
            WITH corpus AS (SELECT doc_id, text FROM documents
                            WHERE doc_id % 5 <> 0),
            newb AS (SELECT doc_id, text FROM documents
                     WHERE doc_id % 5 = 0),
            bk_c AS (SELECT doc_id, {', '.join(bands)}
                     FROM (SELECT doc_id, {', '.join(mh)} FROM corpus)),
            st_c AS (
              SELECT doc_id, '0#' || band0 AS bk FROM bk_c UNION ALL
              SELECT doc_id, '1#' || band1 FROM bk_c UNION ALL
              SELECT doc_id, '2#' || band2 FROM bk_c UNION ALL
              SELECT doc_id, '3#' || band3 FROM bk_c),
            bk_n AS (SELECT doc_id, {', '.join(bands)}
                     FROM (SELECT doc_id, {', '.join(mh)} FROM newb)),
            st_n AS (
              SELECT doc_id, '0#' || band0 AS bk FROM bk_n UNION ALL
              SELECT doc_id, '1#' || band1 FROM bk_n UNION ALL
              SELECT doc_id, '2#' || band2 FROM bk_n UNION ALL
              SELECT doc_id, '3#' || band3 FROM bk_n),
            corpus_pairs AS (
              SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS dup_of
              FROM st_n n JOIN st_c c USING (bk)
              WHERE n.doc_id <> c.doc_id),
            g AS (SELECT doc_id, text,
                         min(doc_id) OVER (PARTITION BY md5(text)) AS rep
                  FROM newb),
            chain AS (SELECT rep AS id_a, doc_id AS id_b
                      FROM g WHERE doc_id <> rep),
            reps AS (SELECT doc_id, text FROM g WHERE doc_id = rep),
            bk_r AS (SELECT doc_id, {', '.join(bands)}
                     FROM (SELECT doc_id, {', '.join(mh)} FROM reps)),
            st_r AS (
              SELECT doc_id, '0#' || band0 AS bk FROM bk_r UNION ALL
              SELECT doc_id, '1#' || band1 FROM bk_r UNION ALL
              SELECT doc_id, '2#' || band2 FROM bk_r UNION ALL
              SELECT doc_id, '3#' || band3 FROM bk_r),
            rep_pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM st_r a JOIN st_r b USING (bk)
              WHERE a.doc_id < b.doc_id),
            batch_pairs AS (
              SELECT DISTINCT id_a, id_b FROM (
                SELECT id_a, id_b FROM rep_pairs
                UNION ALL SELECT id_a, id_b FROM chain)),
            cand AS (
              SELECT new_id, dup_of, 'corpus' AS src FROM corpus_pairs
              UNION ALL
              SELECT id_b AS new_id, id_a AS dup_of, 'batch'
              FROM batch_pairs),
            sh AS (SELECT doc_id,
                          list_distinct({DD.sql_shingles('text')}) AS sh
                   FROM documents),
            scored AS (
              SELECT cand.new_id, cand.dup_of, cand.src,
                     round({inter} * 1.0
                           / (len(a.sh) + len(b.sh) - {inter}), 4)
                       AS jaccard
              FROM cand JOIN sh a ON a.doc_id = cand.new_id
                        JOIN sh b ON b.doc_id = cand.dup_of)
            SELECT new_id, dup_of, src, jaccard
            FROM scored WHERE jaccard >= 0.5""",
        "dedup_embedding_incremental": f"""
            WITH corpus AS (SELECT vec_id, embedding FROM embeddings
                            WHERE vec_id % 5 <> 0),
            newb AS (SELECT vec_id, embedding FROM embeddings
                     WHERE vec_id % 5 = 0),
            sc AS (SELECT vec_id, {_sb16} FROM corpus),
            kc AS (SELECT vec_id, unnest([{_bands16}]) AS bk FROM sc),
            sn AS (SELECT vec_id, {_sb16} FROM newb),
            kn AS (SELECT vec_id, unnest([{_bands16}]) AS bk FROM sn),
            corpus_pairs AS (
              SELECT DISTINCT n.vec_id AS new_id, c.vec_id AS dup_of
              FROM kn n JOIN kc c USING (bk)
              WHERE n.vec_id <> c.vec_id),
            g AS (SELECT vec_id, embedding,
                         min(vec_id) OVER (PARTITION BY embedding) AS rep
                  FROM newb),
            chain AS (SELECT rep AS id_a, vec_id AS id_b
                      FROM g WHERE vec_id <> rep),
            reps AS (SELECT vec_id, embedding FROM g WHERE vec_id = rep),
            sr AS (SELECT vec_id, {_sb16} FROM reps),
            kr AS (SELECT vec_id, unnest([{_bands16}]) AS bk FROM sr),
            rep_pairs AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM kr a JOIN kr b ON a.bk = b.bk
                                 AND a.vec_id < b.vec_id),
            batch_pairs AS (
              SELECT DISTINCT id_a, id_b FROM (
                SELECT id_a, id_b FROM rep_pairs
                UNION ALL SELECT id_a, id_b FROM chain)),
            cand AS (
              SELECT new_id, dup_of, 'corpus' AS src FROM corpus_pairs
              UNION ALL
              SELECT id_b AS new_id, id_a AS dup_of, 'batch'
              FROM batch_pairs)
            SELECT cand.new_id, cand.dup_of, cand.src,
                   round({_cos_nd}, 4) AS score
            FROM cand JOIN embeddings ea ON ea.vec_id = cand.new_id
                      JOIN embeddings eb ON eb.vec_id = cand.dup_of
            WHERE round({_cos_nd}, 4) >= 0.4""",
        "chain_stream_phase1": """
            WITH o AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
                              CAST(o_totalprice AS DECIMAL(18,4)) AS p
                       FROM orders),
            ph AS (SELECT 'start' AS phase, y, p FROM o WHERE y >= 1997
                   UNION ALL
                   SELECT 'delta', y, p FROM o
                   WHERE y = 1996 OR y >= 1998)
            SELECT phase, y, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(p) AS DOUBLE) AS total
            FROM ph GROUP BY phase, y""",
        "stream_patched_followup": """
            WITH img AS (
              SELECT doc_id, lang, n_chars,
                     CASE WHEN source = 'src0' THEN 9.9
                          WHEN lang = 'fr' THEN 0.0
                          WHEN lang = 'en'
                            THEN CAST(n_chars AS DOUBLE) / 1000.0
                     END AS quality
              FROM documents
              WHERE lang IN ('en', 'fr') OR source = 'src0')
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   round(sum(quality), 4) AS q_sum
            FROM img WHERE quality <> 0.0
            GROUP BY lang""",
        "multimodal_bytes_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS content_md5
            FROM documents""",
        "dedup_embedding_cosine": emb_near_dup,
        "window_user_ranks": """
            SELECT user_id, event_type, cnt, rnk FROM (
              SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(row_number() OVER (PARTITION BY user_id
                          ORDER BY count(*) DESC, event_type) AS BIGINT) AS rnk
              FROM events GROUP BY user_id, event_type)
            WHERE rnk <= 2""",
        "q7_nation_volume": f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(SUM({disc}) AS DOUBLE) AS volume
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name <> n2.n_name
            GROUP BY 1, 2, 3""",
        "q8_market_share": f"""
            WITH first_nation AS (
              SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 1)
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(SUM(CASE WHEN n2.n_name = (SELECT n_name FROM first_nation)
                            THEN {disc} ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                       AS mkt_num,
                   CAST(SUM({disc}) AS DOUBLE) AS mkt_den
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA'
            GROUP BY 1""",
        "q9_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(l_shipdate) AS BIGINT) AS o_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                        - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,6)))
                        AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_type = 'ECONOMY'
            GROUP BY 1, 2""",
        "q11_important_parts": f"""
            WITH per_part AS (
              SELECT l_partkey, SUM({disc.replace('(18,6)', '(18,6)')}) AS value_dec
              FROM lineitem GROUP BY l_partkey),
            tot AS (SELECT SUM(value_dec) AS total_dec FROM per_part)
            SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
            FROM per_part, tot WHERE value_dec * 2000 > total_dec""",
        "q13_customer_orders": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
              SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey)
            GROUP BY c_count""",
        "q15_top_supplier": f"""
            WITH rev AS (
              SELECT l_suppkey, SUM({disc}) AS total_dec
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-07-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, CAST(total_dec AS DOUBLE) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_dec = (SELECT max(total_dec) FROM rev)""",
        "q16_brand_suppliers": """
            SELECT p_brand, p_type, p_size % 5 AS size_bucket,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#13'
            GROUP BY 1, 2, 3""",
        "q17_small_quantity_revenue": """
            WITH stats AS (
              SELECT l_partkey AS sp,
                     SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM lineitem GROUP BY l_partkey)
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS small_revenue,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            JOIN part  ON l_partkey = p_partkey
            JOIN stats ON l_partkey = sp
            WHERE p_brand = 'Brand#23'
              AND CAST(l_quantity AS DECIMAL(18,4)) * 5 * cnt < sum_qty""",
        "q19_disjunctive_revenue": f"""
            SELECT CAST(SUM({disc}) AS DOUBLE) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)""",
        "q22_idle_customers": """
            WITH pos AS (
              SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_pos,
                     CAST(count(*) AS BIGINT) AS n_pos
              FROM customer WHERE c_acctbal > 0),
            rich AS (
              SELECT c_custkey, c_nationkey, c_acctbal FROM customer, pos
              WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n_pos > sum_pos)
            SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                       AS totacctbal
            FROM rich WHERE NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = rich.c_custkey
                AND o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey""",
        "q21_waiting_suppliers": """
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM supplier, lineitem l1, orders
            WHERE s_suppkey = l1.l_suppkey
              AND o_orderkey = l1.l_orderkey
              AND o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate
                                    > o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""",
        "pipeline_clean_corpus": f"""
            WITH gated AS (
              SELECT doc_id, text FROM documents
              WHERE {TX.sql_lang_id('text')} = 'en'
                AND {TX.sql_quality('text')} >= 0.3),
            keep AS (
              SELECT md5(text) AS content_hash, min(doc_id) AS doc_id
              FROM gated GROUP BY md5(text))
            SELECT d.doc_id,
                   CAST(len({TX.sql_tokens('d.text')}) AS BIGINT) AS n_tokens,
                   CAST(length(d.text) AS BIGINT) AS n_chars
            FROM keep JOIN documents d ON keep.doc_id = d.doc_id""",
        "q2_min_cost_supplier": """
            WITH cost AS (
              SELECT l_partkey, l_suppkey,
                     MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost_dec
              FROM lineitem GROUP BY 1, 2),
            eur AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'),
            j AS (
              SELECT p_partkey, s_acctbal, s_name, n_name, cost_dec
              FROM cost
              JOIN part ON l_partkey = p_partkey
              JOIN eur  ON l_suppkey = s_suppkey
              WHERE p_size = 15 AND p_type = 'STANDARD')
            SELECT s_acctbal, s_name, n_name, p_partkey,
                   CAST(cost_dec AS DOUBLE) AS supply_cost
            FROM j
            WHERE cost_dec = (SELECT MIN(cost_dec) FROM j j2
                              WHERE j2.p_partkey = j.p_partkey)""",
        "q20_excess_shipments": """
            WITH pairs AS (
              SELECT l_partkey, l_suppkey,
                     SUM(CASE WHEN year(l_shipdate) = 1996
                              THEN CAST(l_quantity AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS qty96,
                     SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_total
              FROM lineitem GROUP BY 1, 2),
            hot AS (
              SELECT DISTINCT l_suppkey FROM pairs
              WHERE qty96 * 2 > qty_total AND qty96 > 0
                AND EXISTS (SELECT 1 FROM part
                            WHERE p_partkey = pairs.l_partkey
                              AND p_type = 'PROMO'))
            SELECT s_suppkey, s_name, n_name
            FROM hot
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey""",
        "rollup_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_price,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
        "stream_window_counts": """
            SELECT strftime(to_timestamp((CAST(floor(epoch(ts)) AS BIGINT)
                                          // 300) * 300),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2""",
        "variant_extract": """
            SELECT doc_id,
                   json_extract_string(js, '$.lang') AS vlang,
                   CAST(json_extract(js, '$.n') AS BIGINT) AS vn
            FROM (SELECT doc_id,
                         '{"lang":"' || lang || '","n":' ||
                         CAST(n_chars AS VARCHAR) || '}' AS js
                  FROM documents)""",
        "sketch_hll_users": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS est_ok
            FROM events GROUP BY event_type""",
        "sketch_theta_custkeys": """
            SELECT o_orderpriority,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_keys,
                   TRUE AS est_ok
            FROM orders GROUP BY o_orderpriority""",
    }
