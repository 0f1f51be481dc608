"""Commit-time key sidecars of the lookup producer: the per-commit key
set, built on the driver for small commits."""

import datetime as dt
import json
import os

from pyspark.sql import types as T

from paimon_spark import Table
from paimon_spark.operators import changelog as cl
from tests.conftest import *  # noqa: F401,F403


def _commit_keys(spark, t, df, monkeypatch):
    """Stage and commit `df`; returns (staged entries, what the driver
    path returned for the keys sidecar: ranges, or None = fallback)."""
    seen = []
    orig = cl._write_keys_driver_side

    def spy(*a, **kw):
        seen.append(orig(*a, **kw))
        return seen[-1]

    monkeypatch.setattr(cl, "_write_keys_driver_side", spy)
    w = t.writer()
    entries = w.stage(df)
    w.commit(entries)
    assert len(seen) == 1
    return entries, seen[0]


def _sidecar_matches_spark_distinct(spark, t, entries):
    pks = t.schema.primary_keys
    d = cl._keys_dir(t.paths, t.paths.latest_snapshot())
    side = spark.read.parquet(d)
    assert [(f.name, f.dataType) for f in side.schema.fields] == \
        [(c, t.schema.data_type(c)) for c in pks]
    want = t._read_files(entries).select(*pks).distinct()
    assert sorted(map(tuple, side.collect())) == \
        sorted(map(tuple, want.collect()))
    with open(os.path.join(d, "_summary.json")) as f:
        return json.load(f)["ranges"]


def test_partitioned_keys_sidecar_built_driver_side(spark, wh, monkeypatch):
    """Partition columns are not stored in data files: the driver-side
    keys sidecar takes them from each entry's partition values, typed
    by the schema, instead of failing on the missing column and
    falling back to a Spark distinct. The sidecar equals that distinct,
    column types included."""
    sch = T.StructType([T.StructField("pt", T.IntegerType()),
                        T.StructField("day", T.DateType()),
                        T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = Table.create(f"{wh}/cl_keys_part", sch,
                     primary_keys=["pt", "day", "k"],
                     partition_keys=["pt", "day"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    d0, d1 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t.append(spark.createDataFrame(
        [(k % 3, d0 if k % 2 else d1, k, "a") for k in range(20)], sch))
    entries, ranges = _commit_keys(spark, t, spark.createDataFrame(
        [(1, d0, 4, "b"), (2, d1, 5, "b"), (2, d1, 30, "c")], sch),
        monkeypatch)
    assert ranges is not None                  # no Spark fallback
    assert _sidecar_matches_spark_distinct(spark, t, entries) == \
        {"pt": [1, 2], "k": [4, 30]}


def test_untyped_partition_keys_sidecar_keeps_spark_path(spark, wh,
                                                         monkeypatch):
    """A partition type cast_partition_value leaves untyped (decimal
    here) takes the Spark distinct, which still writes the exact key
    set."""
    from decimal import Decimal
    sch = T.StructType([T.StructField("pt", T.DecimalType(6, 2)),
                        T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/cl_keys_dec", sch, primary_keys=["pt", "k"],
                     partition_keys=["pt"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame([(Decimal("1.50"), 1, 1)], sch))
    entries, ranges = _commit_keys(spark, t, spark.createDataFrame(
        [(Decimal("1.50"), 1, 2), (Decimal("2.25"), 2, 2)], sch),
        monkeypatch)
    assert ranges is None
    _sidecar_matches_spark_distinct(spark, t, entries)
