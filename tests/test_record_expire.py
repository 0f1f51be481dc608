"""Record-level expiration: rows older than record-level.expire-time
(by record-level.time-field) are dropped when compaction rewrites them
(ref: paimon-core/.../io/RecordLevelExpire.java — expire applies at
compaction only; reads surface expired rows until then)."""

import time

import pytest
from pyspark.sql import types as T

from paimon_spark import Table

SCH = T.StructType([T.StructField("id", T.LongType()),
                    T.StructField("ts", T.LongType()),
                    T.StructField("v", T.StringType())])


def _mk(spark, wh, ts_type="bigint_seconds", ttl="1 h"):
    t = Table.create(
        f"{wh}/exp_{ts_type}", SCH, primary_keys=["id"],
        options={"bucket": "2", "record-level.expire-time": ttl,
                 "record-level.time-field": "ts"}, spark=spark)
    now = int(time.time())
    old, fresh = now - 7200, now - 60
    if ts_type == "bigint_millis":
        old, fresh = old * 1000, fresh * 1000
    rows = [(1, old, "old"), (2, fresh, "fresh"), (3, None, "no-ts")]
    t.append(spark.createDataFrame(rows, SCH))
    return t


def test_expire_applies_at_compaction_only(spark, wh):
    t = _mk(spark, wh)
    # before compaction: reads still see the expired row (reference
    # semantics — expire works in compaction)
    assert t.read().count() == 3
    t.compact(full=True)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {2: "fresh", 3: "no-ts"}   # NULL time never expires


def test_expire_millisecond_epoch_autodetected(spark, wh):
    t = _mk(spark, wh, ts_type="bigint_millis")
    t.compact(full=True)
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def test_expire_timestamp_field(spark, wh):
    sch = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("ts", T.TimestampType()),
                        T.StructField("v", T.StringType())])
    t = Table.create(
        f"{wh}/exp_ts", sch, primary_keys=["id"],
        options={"bucket": "1", "record-level.expire-time": "30 m",
                 "record-level.time-field": "ts"}, spark=spark)
    import datetime as dt
    now = dt.datetime.now(dt.timezone.utc)
    t.append(spark.createDataFrame(
        [(1, now - dt.timedelta(hours=2), "old"),
         (2, now, "fresh")], sch))
    t.compact(full=True)
    assert [r.id for r in t.read().collect()] == [2]


def test_expire_universal_compaction(spark, wh):
    t = Table.create(
        f"{wh}/exp_uni", SCH, primary_keys=["id"],
        options={"bucket": "1", "record-level.expire-time": "1 h",
                 "record-level.time-field": "ts",
                 "num-sorted-run.compaction-trigger": "2"}, spark=spark)
    now = int(time.time())
    for i in range(3):                       # 3 runs → universal picks
        t.append(spark.createDataFrame(
            [(10 + i, now - 7200, "old"), (20 + i, now, "fresh")], SCH))
    t.compact(full=False)
    ids = sorted(r.id for r in t.read().collect())
    assert ids == [20, 21, 22]


def test_expire_config_errors(spark, wh):
    t = Table.create(
        f"{wh}/exp_bad", SCH, primary_keys=["id"],
        options={"bucket": "1", "record-level.expire-time": "1 h"},
        spark=spark)
    t.append(spark.createDataFrame([(1, 1, "x")], SCH))
    with pytest.raises(ValueError, match="time-field"):
        t.compact(full=True)
    sch = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("ts", T.StringType())])
    t2 = Table.create(
        f"{wh}/exp_badtype", sch, primary_keys=["id"],
        options={"bucket": "1", "record-level.expire-time": "1 h",
                 "record-level.time-field": "ts"}, spark=spark)
    t2.append(spark.createDataFrame([(1, "2024")], sch))
    with pytest.raises(ValueError, match="INT, BIGINT or TIMESTAMP"):
        t2.compact(full=True)


def test_auto_snapshot_retention_policy(spark, wh):
    """snapshot.num-retained.max / .min / time-retained applied on every
    commit (ref: FileStoreCommitImpl -> SnapshotDeletion)."""
    sch = T.StructType([T.StructField("id", T.LongType())])
    t = Table.create(f"{wh}/autoexp", sch,
                     options={"snapshot.num-retained.min": "2",
                              "snapshot.num-retained.max": "3"},
                     spark=spark)
    for i in range(6):
        t.append(spark.createDataFrame([(i,)], sch))
    assert t.paths.latest_snapshot_id() == 6
    assert t.paths.earliest_snapshot_id() >= 4      # max 3 retained
    # default policy (min 10, 1 h) expires nothing on young tables
    t2 = Table.create(f"{wh}/young", sch, spark=spark)
    for i in range(4):
        t2.append(spark.createDataFrame([(i,)], sch))
    assert t2.paths.earliest_snapshot_id() == 1
    # time-retained with min floor: everything is "too old" but min=2 stays
    t3 = Table.create(f"{wh}/ttl", sch,
                      options={"snapshot.num-retained.min": "2",
                               "snapshot.time-retained": "0 s"},
                      spark=spark)
    for i in range(5):
        t3.append(spark.createDataFrame([(i,)], sch))
    assert t3.paths.earliest_snapshot_id() == 4     # last 2 retained


def test_full_compaction_delta_commits(spark, wh):
    """full-compaction.delta-commits=3: every third data commit triggers
    an automatic full compaction (ref: CoreOptions
    FULL_COMPACTION_DELTA_COMMITS)."""
    sch = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = Table.create(f"{wh}/autocompact", sch, primary_keys=["id"],
                     options={"bucket": "1",
                              "full-compaction.delta-commits": "3"},
                     spark=spark)
    for i in range(3):
        t.append(spark.createDataFrame([(k, f"b{i}") for k in range(5)], sch))
    kinds = [t.paths.read_snapshot(s).commit_kind
             for s in range(1, t.paths.latest_snapshot_id() + 1)]
    assert kinds == ["APPEND", "APPEND", "APPEND", "COMPACT"]
    # merged view intact, files at max level
    assert t.read().count() == 5
    plan = t.new_scan().plan()
    from paimon_spark.table import COMPACTED_LEVEL
    assert all(e.level == COMPACTED_LEVEL for e in plan.entries)
    # two more appends: not due again until the third after the compact
    t.append(spark.createDataFrame([(9, "x")], sch))
    t.append(spark.createDataFrame([(9, "y")], sch))
    kinds = [t.paths.read_snapshot(s).commit_kind
             for s in range(1, t.paths.latest_snapshot_id() + 1)]
    assert kinds.count("COMPACT") == 1


def test_auto_partition_expiration(spark, wh):
    """partition.expiration-time: the committer drops expired partitions
    (throttled by partition.expiration-check-interval; ref:
    PartitionExpire)."""
    import datetime as dt
    sch = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("dt", T.StringType())])
    old = (dt.date.today() - dt.timedelta(days=30)).isoformat()
    fresh = dt.date.today().isoformat()
    t = Table.create(f"{wh}/pexp", sch, partition_keys=["dt"],
                     options={"partition.expiration-time": "7 d",
                              "partition.expiration-check-interval": "0 s"},
                     spark=spark)
    t.append(spark.createDataFrame([(1, old), (2, fresh)], sch))
    # the check ran at commit → a follow-up commit sees the drop done;
    # interval 0 s means every commit checks
    t.append(spark.createDataFrame([(3, fresh)], sch))
    parts = {r.dt for r in t.read().select("dt").distinct().collect()}
    assert parts == {fresh}
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def test_partition_expiration_throttled(spark, wh):
    """With a long check interval the walk runs once, not per commit."""
    import datetime as dt
    sch = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("dt", T.StringType())])
    old = (dt.date.today() - dt.timedelta(days=30)).isoformat()
    t = Table.create(f"{wh}/pexp2", sch, partition_keys=["dt"],
                     options={"partition.expiration-time": "7 d",
                              "partition.expiration-check-interval": "1 h"},
                     spark=spark)
    t.append(spark.createDataFrame([(1, old)], sch))   # check #1 drops it
    t.append(spark.createDataFrame([(2, old)], sch))   # within interval:
    assert sorted(r.id for r in t.read().collect()) == [2]  # not dropped


def test_auto_tag_creation_on_commit(spark, wh):
    """tag.automatic-creation: the committer creates the period tag
    (ref: TagAutoManager via commit; idempotent)."""
    sch = T.StructType([T.StructField("id", T.LongType())])
    t = Table.create(f"{wh}/autotag", sch,
                     options={"tag.automatic-creation": "process-time",
                              "tag.creation-period": "daily"},
                     spark=spark)
    t.append(spark.createDataFrame([(1,)], sch))
    tags = t.paths.list_tags()
    assert len(tags) == 1
    import datetime as dt
    assert list(tags) == [dt.datetime.now(dt.timezone.utc)
                          .strftime("%Y-%m-%d")]
    t.append(spark.createDataFrame([(2,)], sch))   # same period: no dup
    assert len(t.paths.list_tags()) == 1


def test_consumer_expiration(spark, wh):
    """consumer.expiration-time: a consumer whose progress file went
    stale stops pinning snapshots and is dropped (ref:
    ConsumerManager.expire)."""
    import os, time as _time
    sch = T.StructType([T.StructField("id", T.LongType())])
    t = Table.create(f"{wh}/consexp", sch,
                     options={"consumer.expiration-time": "1 h",
                              "snapshot.num-retained.min": "1",
                              "snapshot.num-retained.max": "1"},
                     spark=spark)
    t.append(spark.createDataFrame([(1,)], sch))
    # a consumer parked at snapshot 1
    cdir = os.path.join(t.path, "consumer")
    os.makedirs(cdir, exist_ok=True)
    cfile = os.path.join(cdir, "consumer-c1.json")
    with open(cfile, "w") as f:
        f.write('{"next_snapshot": 1}')
    t.append(spark.createDataFrame([(2,)], sch))
    t.append(spark.createDataFrame([(3,)], sch))
    # live consumer pins history past the max=1 retention
    assert t.paths.earliest_snapshot_id() == 1
    # stale consumer (mtime beyond TTL) stops pinning
    old = _time.time() - 7200
    os.utime(cfile, (old, old))
    t.append(spark.createDataFrame([(4,)], sch))
    assert not os.path.exists(cfile)
    assert t.paths.earliest_snapshot_id() == 4


def test_decoupled_changelog_lifecycle(spark, wh):
    """r12 (ref: CoreOptions changelog.num-retained.min/max +
    changelog.time-retained, changelogLifecycleDecoupled,
    ExpireChangelogImpl, ChangelogManager.longLivedChangelogPath):
    with changelog retention set, snapshot expiry PRESERVES the
    expired snapshots' changelog — rows/keys sidecars survive to the
    changelog horizon and a long-lived changelog-<sid>.json keeps the
    commit kind/ts — so windowed derived-changelog reads over expired
    history still answer (rows-collapse tier) and a FRESH CDC
    subscriber still reconstructs full state. Tightening the changelog
    retention then GCs both."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from paimon_spark import P, Table
    from paimon_spark.operators.changelog import derive_changelog
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/cl_decoupled", sch, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup",
                              # r13: decoupling requires changelog
                              # retention to EXCEED snapshot retention
                              # (changelogLifecycleDecoupled) — make it
                              # visible to option-driven GC passes too
                              "snapshot.num-retained.max": "50",
                              "changelog.num-retained.max": "100"},
                     spark=spark)
    t.append(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], sch))  # s1
    t.append(spark.createDataFrame([(1, 11)], sch))                    # s2
    t.append(spark.createDataFrame([(4, 40)], sch))                    # s3
    t.delete_where(P.expr("k = 2"))                                    # s4
    t.append(spark.createDataFrame([(3, 33)], sch))                    # s5

    def canon(from_snap):
        t._read_cache.clear()
        return sorted((r.k, r.v, r._row_kind)
                      for r in derive_changelog(t, from_snap).collect())

    pre = canon(1)
    assert t.expire_snapshots(retain_last=2) == 3        # s1-s3 expired
    assert t.paths.earliest_snapshot_id() == 4

    # long-lived records for the expired snapshots, sidecars retained
    lld = os.path.join(t.paths.meta_root, "changelog")
    assert sorted(os.listdir(lld)) == [
        "changelog-1.json", "changelog-2.json", "changelog-3.json"]
    rows_dir = os.path.join(t.paths.meta_root, "changelog-rows")
    assert sorted(int(n.split("-")[1]) for n in os.listdir(rows_dir)
                  if not n.startswith("_")) == [1, 2, 3, 4, 5]

    # the window over expired history still answers, identically
    assert canon(1) == pre
    # and a record survives a second GC pass
    t._drop_expired_changelog_keys()
    assert canon(1) == pre

    # fresh CDC subscriber reconstructs full state from the tail alone
    import uuid
    sink = f"dc_{uuid.uuid4().hex[:8]}"
    q = (t.read_changelog_stream()
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table(sink).collect()
    # fold as a multiset: the memory sink's row order follows the order
    # Spark reads the rows files in (by size), not snapshot order, so
    # each -U/-D cancels one equal (k, v) add wherever it arrives
    from collections import Counter
    live = Counter((r.k, r.v) for r in rows
                   if r["_row_kind"] in ("+I", "+U"))
    live.subtract((r.k, r.v) for r in rows
                  if r["_row_kind"] in ("-U", "-D"))
    assert set(live.values()) <= {0, 1}
    state = {k: v for (k, v), n in live.items() if n}
    assert state == {r.k: r.v for r in t.read().collect()}

    # tighten the changelog horizon: keep only the newest 2
    t = t.alter(lambda sc: sc.set_option("changelog.num-retained.max",
                                         "2").set_option(
                                         "changelog.num-retained.min",
                                         "1"))
    t._drop_expired_changelog_keys()
    left = sorted(int(n.split("-")[1]) for n in os.listdir(rows_dir)
                  if not n.startswith("_"))
    # latest=6 after the alter commit? alter writes a schema, not a
    # snapshot — latest stays 5, horizon = {4, 5}
    assert left == [4, 5], left
    assert all(int(n[len("changelog-"):-len(".json")]) >= 4
               for n in os.listdir(lld)) or not os.listdir(lld)


def test_coupled_changelog_gc_unchanged(spark, wh):
    """Without changelog.* retention options the lifecycle stays
    COUPLED: snapshot expiry drops the expired snapshots' sidecars and
    writes no long-lived records (the pre-r12 contract)."""
    import os

    from pyspark.sql import types as T

    from paimon_spark import Table
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/cl_coupled", sch, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup"},
                     spark=spark)
    for i in range(4):
        t.append(spark.createDataFrame([(i, i)], sch))
    t.expire_snapshots(retain_last=2)
    assert not os.path.isdir(os.path.join(t.paths.meta_root,
                                          "changelog"))
    rows_dir = os.path.join(t.paths.meta_root, "changelog-rows")
    left = sorted(int(n.split("-")[1]) for n in os.listdir(rows_dir)
                  if not n.startswith("_"))
    assert left == [3, 4], left


def test_rollback_purges_long_lived_changelog_and_rejects_expired_target(
        spark, wh):
    """r12 follow-up: (a) rollback removes the long-lived changelog
    records of undone commits — they are keyed by sid alone, so a
    reused id whose new snapshot later expires would otherwise be
    served the STALE commit kind; (b) rolling back TO an expired
    snapshot raises instead of leaving a dangling latest-hint."""
    import os

    import pytest
    from pyspark.sql import types as T

    from paimon_spark import Table
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/cl_rb_lld", sch, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup",
                              # r13: exceed snapshot retention so the
                              # option-driven passes see decoupled too
                              "snapshot.num-retained.max": "50",
                              "changelog.num-retained.max": "100"},
                     spark=spark)
    for i in range(5):
        t.append(spark.createDataFrame([(i, i)], sch))       # s1..s5
    t.expire_snapshots(retain_last=3)                        # s1,s2 out
    lld = os.path.join(t.paths.meta_root, "changelog")
    assert sorted(os.listdir(lld)) == ["changelog-1.json",
                                       "changelog-2.json"]

    # (b) expired target refused
    with pytest.raises(FileNotFoundError):
        t.rollback_to(1)

    # (a) roll back s5, then fabricate the hazard: record for s5 should
    # be gone even though a pre-rollback expiry had preserved one
    t._preserve_long_lived_changelog(5)      # as if s5 had expired once
    assert os.path.isfile(os.path.join(lld, "changelog-5.json"))
    t.rollback_to(4)
    assert not os.path.isfile(os.path.join(lld, "changelog-5.json"))
    # re-commit reuses sid 5; its eventual expiry re-preserves the NEW
    # record, and _read_snapshot_or_changelog never sees the stale one
    t.append(spark.createDataFrame([(99, 99)], sch))
    assert t.paths.latest_snapshot_id() == 5
    assert t._read_snapshot_or_changelog(5).id == 5


def test_changelog_tighter_than_snapshot_stays_coupled(spark, wh):
    """r13 (VERDICT r12 #2a; ref: CoreOptions.changelogLifecycleDecoupled
    + ExpireConfig.build null-coalescing): changelog retention that does
    NOT exceed snapshot retention means the lifecycle is COUPLED —
    setting changelog.num-retained.max BELOW the snapshot horizon must
    never GC sidecars of still-LIVE snapshots (the r12 predicate
    decoupled on any changelog.* option and did exactly that)."""
    import os

    from pyspark.sql import types as T

    from paimon_spark import Table
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/cl_tight", sch, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup",
                              # tighter than every snapshot default —
                              # must NOT expire changelog of live snaps
                              "changelog.num-retained.max": "2",
                              "changelog.num-retained.min": "1"},
                     spark=spark)
    for i in range(6):
        t.append(spark.createDataFrame([(i, i)], sch))       # s1..s6
    assert t._changelog_retention() is None                  # coupled
    # all six snapshots live (defaults retain 10) → all six sidecars
    # live, despite changelog.num-retained.max=2
    t._drop_expired_changelog_keys()
    rows_dir = os.path.join(t.paths.meta_root, "changelog-rows")
    left = sorted(int(n.split("-")[1]) for n in os.listdir(rows_dir)
                  if not n.startswith("_"))
    assert left == [1, 2, 3, 4, 5, 6], left
    # coupled: snapshot expiry drops them with their snapshots, and no
    # long-lived records appear
    t.expire_snapshots(retain_last=3)
    left = sorted(int(n.split("-")[1]) for n in os.listdir(rows_dir)
                  if not n.startswith("_"))
    assert left == [4, 5, 6], left
    assert not os.path.isdir(os.path.join(t.paths.meta_root,
                                          "changelog"))


def test_input_producer_changelog_survives_expiry(spark, wh):
    """r13 (VERDICT r12 #2b; ref: ExpireSnapshotsImpl preserves
    changelog for ANY producer when decoupled, incl. `input`): an
    input-producer table's commit deltas ARE its changelog — with
    decoupled retention they must stay readable through
    read_incremental across snapshot expiry AND across
    remove_orphan_files (which must pin the preserved records'
    manifests and files)."""
    import os

    from pyspark.sql import types as T

    from paimon_spark import Table
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/cl_input", sch, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "input",
                              "changelog.num-retained.max": "100"},
                     spark=spark)
    for i in range(5):
        t.append(spark.createDataFrame([(i, 10 * i), (i + 100, i)],
                                       sch))                 # s1..s5

    def win(a, b):
        t._read_cache.clear()
        return sorted((r.k, r.v, r._row_kind)
                      for r in t.read_incremental(a, b).collect())

    pre_13 = win(1, 3)
    pre_04 = win(0, 4)
    assert len(pre_13) == 4
    # manual expire overrides SNAPSHOT retention only → changelog
    # max=100 exceeds it → decoupled, records preserved for s1..s3
    t.expire_snapshots(retain_last=2)
    assert t.paths.earliest_snapshot_id() == 4
    lld = os.path.join(t.paths.meta_root, "changelog")
    assert sorted(os.listdir(lld)) == [
        "changelog-1.json", "changelog-2.json", "changelog-3.json"]
    # expired windows still answer, identically
    assert win(1, 3) == pre_13
    assert win(0, 4) == pre_04
    # orphan cleanup pins the preserved records' manifests + files
    t.remove_orphan_files()
    assert win(1, 3) == pre_13
    assert win(0, 4) == pre_04
    # dropping the changelog options re-couples: the records are below
    # the earliest snapshot → swept; expired windows then refuse
    t = t.alter(lambda sc: sc.remove_option("changelog.num-retained.max"))
    t._drop_expired_changelog_keys()
    assert not os.listdir(lld)
    with pytest.raises(ValueError):
        win(1, 3)
