"""Branches: metadata fork, isolated writes, fast-forward, orphan safety.

(ref: paimon-core/.../utils/BranchManager.java; docs maintenance/manage-branches)
"""

import os

import pytest
from pyspark.sql import types as T

from paimon_spark import P, Table
from paimon_spark.procedures import call

SCHEMA = T.StructType([T.StructField("id", T.LongType()),
                       T.StructField("v", T.StringType())])


def _mk(spark, wh, n=3):
    t = Table.create(f"{wh}/t", SCHEMA, spark=spark)
    for i in range(n):
        t.append(spark.createDataFrame([(i, f"v{i}")], SCHEMA))
    return t


def test_branch_isolated_writes(spark, wh):
    t = _mk(spark, wh)
    b = t.create_branch("dev")
    assert t.list_branches() == ["dev"]
    # branch starts at main's latest
    assert b.read().count() == 3
    # write to branch — invisible on main
    b.append(spark.createDataFrame([(100, "branch-only")], SCHEMA))
    assert b.read().count() == 4
    assert t.read().count() == 3
    # write to main — invisible on branch
    t.append(spark.createDataFrame([(200, "main-only")], SCHEMA))
    assert t.read().count() == 4
    assert b.read().count() == 4
    assert b.read(P.eq("id", 200)).count() == 0


def test_branch_from_tag_and_delete(spark, wh):
    t = _mk(spark, wh)
    t.create_tag("s1", 1)
    b = call(spark, "create_branch", table=t, branch="old", tag="s1")
    assert b.read().count() == 1
    call(spark, "delete_branch", table=t, branch="old")
    assert t.list_branches() == []


def test_fast_forward_replaces_main(spark, wh):
    t = _mk(spark, wh, n=2)
    b = t.create_branch("fix")
    b.append(spark.createDataFrame([(10, "fixed")], SCHEMA))
    b.create_tag("fix-tag")
    # main diverges after the fork point
    t.append(spark.createDataFrame([(99, "divergent")], SCHEMA))
    call(spark, "fast_forward", table=t, branch="fix")
    got = {r.id for r in t.read().collect()}
    assert got == {0, 1, 10}                      # divergent write dropped
    assert "fix-tag" in dict(t.paths.list_tags())  # branch tags copied


def test_orphan_files_respects_branches(spark, wh):
    t = _mk(spark, wh, n=2)
    b = t.create_branch("keep")
    b.append(spark.createDataFrame([(7, "branch-data")], SCHEMA))
    removed = t.remove_orphan_files()
    assert removed == 0
    assert b.read().count() == 3


def test_expire_partitions(spark, wh):
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/p", schema, partition_keys=["dt"], spark=spark)
    t.append(spark.createDataFrame(
        [("2020-01-01", 1), ("2020-01-02", 2), ("2999-01-01", 3)], schema))
    expired = call(spark, "expire_partitions", table=t,
                   expiration_time="7 d", timestamp_formatter="%Y-%m-%d")
    assert sorted(expired) == ["2020-01-01", "2020-01-02"]
    assert [r.v for r in t.read().collect()] == [3]


def test_mark_partition_done(spark, wh):
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/m", schema, partition_keys=["dt"], spark=spark)
    t.append(spark.createDataFrame([("2024-06-01", 1)], schema))
    marked = call(spark, "mark_partition_done", table=t,
                  partitions={"dt": "2024-06-01"})
    assert marked == ["dt=2024-06-01"]
    assert os.path.exists(os.path.join(t.path, "dt=2024-06-01", "_SUCCESS"))


def test_fallback_branch_read(spark, wh):
    """scan.fallback-branch: partitions missing from the current branch are
    served from the fallback branch (ref: FallbackReadFileStoreTable.java)."""
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("v", T.LongType())])
    t3 = Table.create(f"{wh}/fb2", schema, partition_keys=["dt"], spark=spark)
    t3.append(spark.createDataFrame([("d1", 1), ("d2", 2), ("d3", 3)], schema))
    t3.create_branch("full")
    t3.truncate()
    t3.append(spark.createDataFrame([("d1", 100)], schema))
    t3.schema.options["scan.fallback-branch"] = "full"
    got = {(r.dt, r.v) for r in t3.read().collect()}
    # d1 from main (overwritten), d2/d3 from the fallback branch
    assert got == {("d1", 100), ("d2", 2), ("d3", 3)}
    # predicates still push through both branches
    assert {(r.dt, r.v) for r in t3.read(P.eq("dt", "d2")).collect()} == {("d2", 2)}
    assert t3.read(P.eq("dt", "d1")).collect()[0].v == 100


def test_read_incremental_between_tags(spark, wh):
    """The incremental TVF accepts tag names for both bounds
    (ref: paimon_incremental_query('t','tag1','tag2'))."""
    from pyspark.sql import types as T
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = Table.create(f"{wh}/inc_tags", sch, spark=spark)
    for i in range(3):
        t.append(spark.createDataFrame([(i, f"c{i}")], sch))
    t.create_tag("t1", 1)
    t.create_tag("t2", 3)
    got = sorted(r.k for r in t.read_incremental("t1", "t2").collect())
    assert got == [1, 2]


def test_chain_table_three_level_fallback(spark, wh):
    """chain-table.enabled: main wins, then the chain snapshot branch, and
    partitions in neither are reconstructed by merging the anchor snapshot
    partition with the delta partitions up to the target, projected to the
    target partition value (ref: CoreOptions.java chain-table.*;
    ChainTableUtils.findFirstLatestPartitions/getDeltaPartitions;
    ChainPartitionProjector)."""
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = Table.create(
        f"{wh}/chain", schema, partition_keys=["dt"],
        primary_keys=["dt", "id"],
        options={"bucket": "1", "chain-table.enabled": "true",
                 "scan.fallback-snapshot-branch": "snap",
                 "scan.fallback-delta-branch": "delta"},
        spark=spark)
    snap = t.create_branch("snap")
    delta = t.create_branch("delta")
    t.append(spark.createDataFrame([("d1", 1, "main")], schema))
    snap.append(spark.createDataFrame(
        [("d2", i, "snap") for i in (1, 2, 3)], schema))
    delta.append(spark.createDataFrame(
        [("d3", 2, "d3-upd"), ("d3", 9, "d3-new")], schema))
    delta.append(spark.createDataFrame([("d4", 1, "d4-upd")], schema))

    got = {(r.dt, r.id): r.v for r in t.read().collect()}
    assert got == {
        ("d1", 1): "main",                         # main branch
        ("d2", 1): "snap", ("d2", 2): "snap", ("d2", 3): "snap",  # snapshot
        # d3 = snapshot d2 merged with delta d3
        ("d3", 1): "snap", ("d3", 2): "d3-upd", ("d3", 3): "snap",
        ("d3", 9): "d3-new",
        # d4 = snapshot d2 + delta d3 + delta d4 (delta order matters)
        ("d4", 1): "d4-upd", ("d4", 2): "d3-upd", ("d4", 3): "snap",
        ("d4", 9): "d3-new",
    }
    # partition predicate prunes the chain work to one target
    only_d3 = {(r.dt, r.id): r.v for r in t.read(P.eq("dt", "d3")).collect()}
    assert only_d3 == {("d3", 1): "snap", ("d3", 2): "d3-upd",
                       ("d3", 3): "snap", ("d3", 9): "d3-new"}
    # non-partition predicates still apply to reconstructed rows
    assert {r.dt for r in t.read(P.eq("v", "d3-new")).collect()} == {"d3", "d4"}


def test_fallback_partition_presence_ignores_value_predicates(spark, wh):
    """A value predicate that stats-prunes every main file of a partition
    must NOT make that partition look absent — otherwise stale fallback
    rows are read (ref: FallbackReadFileStoreTable completePartitions is
    computed from partition predicates only)."""
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/fbv", schema, partition_keys=["dt"], spark=spark)
    t.append(spark.createDataFrame([("d1", 999)], schema))  # stale value
    t.create_branch("old")
    t.truncate()
    t.append(spark.createDataFrame([("d1", 5)], schema))    # main owns d1
    t.schema.options["scan.fallback-branch"] = "old"
    # v > 100 stats-prunes main's only d1 file; d1 is still main's —
    # the stale fallback row (999) must not appear
    assert t.read(P.gt("v", 100)).collect() == []
    assert [r.v for r in t.read().collect()] == [5]


def test_chain_partition_order_is_typed(spark, wh):
    """Chain order over non-string partition keys must compare typed
    values: hour 9 < 10 even though '9' > '10' lexicographically."""
    schema = T.StructType([T.StructField("hour", T.IntegerType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = Table.create(
        f"{wh}/chain_int", schema, partition_keys=["hour"],
        primary_keys=["hour", "id"],
        options={"bucket": "1", "chain-table.enabled": "true",
                 "scan.fallback-snapshot-branch": "snap",
                 "scan.fallback-delta-branch": "delta"},
        spark=spark)
    snap = t.create_branch("snap")
    delta = t.create_branch("delta")
    # anchor at hour=9; delta at hour=10 updates id=1 and adds id=2
    snap.append(spark.createDataFrame([(9, 1, "h9")], schema))
    delta.append(spark.createDataFrame(
        [(10, 1, "h10-upd"), (10, 2, "h10-new")], schema))
    got = {(r.hour, r.id): r.v for r in t.read().collect()}
    # hour=10 reconstructs from anchor 9 + delta 10 (typed order 9 < 10)
    assert got == {(9, 1): "h9",
                   (10, 1): "h10-upd", (10, 2): "h10-new"}
    # typed partition predicate must select the reconstructed partition
    got10 = {(r.hour, r.id): r.v for r in t.read(P.eq("hour", 10)).collect()}
    assert got10 == {(10, 1): "h10-upd", (10, 2): "h10-new"}


def test_chain_rejects_non_deduplicate(spark, wh):
    import pytest
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.LongType())])
    with pytest.raises(ValueError, match="deduplicate"):
        Table.create(
            f"{wh}/chain_bad", schema, partition_keys=["dt"],
            primary_keys=["dt", "id"],
            options={"bucket": "1", "chain-table.enabled": "true",
                     "merge-engine": "partial-update"}, spark=spark)


def test_chain_hidden_read_rank_dominates_seq(spark, wh):
    """with_hidden chain reads re-key _sequence_number so delta-branch rows
    order above snapshot-branch rows even when raw seqs invert."""
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = Table.create(
        f"{wh}/chain_seq", schema, partition_keys=["dt"],
        primary_keys=["dt", "id"],
        options={"bucket": "1", "chain-table.enabled": "true",
                 "scan.fallback-snapshot-branch": "snap",
                 "scan.fallback-delta-branch": "delta"},
        spark=spark)
    snap = t.create_branch("snap")
    delta = t.create_branch("delta")
    # snapshot branch gets MANY commits (high seq); delta one commit (low)
    for i in range(3):
        snap.append(spark.createDataFrame([("d1", 1, f"snap{i}")], schema))
    delta.append(spark.createDataFrame([("d2", 1, "delta")], schema))
    h = t.read(with_hidden=True).filter("dt = 'd2'").collect()
    by_v = {r.v: r["_sequence_number"] for r in h}
    assert by_v["delta"] > by_v["snap2"]  # rank re-key dominates raw seq


def test_compact_chain_table_materializes_partition(spark, wh):
    """CALL sys.compact_chain_table: a reconstructed chain partition is
    materialized into the snapshot branch (ref:
    CompactChainTableProcedure.java — single partition; skip when
    present unless overwrite)."""
    from paimon_spark.procedures import call
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = Table.create(
        f"{wh}/chaincmp", schema, partition_keys=["dt"],
        primary_keys=["dt", "id"],
        options={"bucket": "1", "chain-table.enabled": "true",
                 "scan.fallback-snapshot-branch": "snap",
                 "scan.fallback-delta-branch": "delta"},
        spark=spark)
    snap = t.create_branch("snap")
    delta = t.create_branch("delta")
    snap.append(spark.createDataFrame(
        [("d2", i, "snap") for i in (1, 2)], schema))
    delta.append(spark.createDataFrame([("d3", 2, "d3-upd")], schema))

    before = {(r.dt, r.id): r.v for r in t.read(P.eq("dt", "d3")).collect()}
    assert before == {("d3", 1): "snap", ("d3", 2): "d3-upd"}
    assert call(spark, "compact_chain_table", table=t.path,
                partition="dt=d3") is True
    # now served directly from the snapshot branch, same rows
    snap2 = Table.load(t.path, spark, branch="snap")
    mat = {(r.dt, r.id): r.v
           for r in snap2.read(P.eq("dt", "d3")).collect()}
    assert mat == before
    after = {(r.dt, r.id): r.v for r in t.read(P.eq("dt", "d3")).collect()}
    assert after == before
    # existing partition skips unless overwrite=True
    assert call(spark, "compact_chain_table", table=t.path,
                partition="dt=d3") is False
    assert call(spark, "compact_chain_table", table=t.path,
                partition="dt=d3", overwrite=True) is True
    # multi-partition spec rejected, non-chain table rejected
    with pytest.raises(ValueError, match="single"):
        call(spark, "compact_chain_table", table=t.path,
             partition="dt=d3;dt=d4")
    plain = Table.create(f"{wh}/plainp", schema, partition_keys=["dt"],
                         primary_keys=["dt", "id"],
                         options={"bucket": "1"}, spark=spark)
    with pytest.raises(ValueError, match="chain"):
        call(spark, "compact_chain_table", table=plain.path,
             partition="dt=d3")


def test_python_datasource_branch_option_and_fallback_guard(spark, wh):
    """format('paimon') reads a named branch via .option('branch', …);
    scan.fallback-branch tables refuse the split reader loudly (it has
    no two-branch partition fallback planner) (r8)."""
    import pytest
    from pyspark.sql import types as T
    from paimon_spark import Table
    from paimon_spark.streaming.datasource import register
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])
    t = Table.create(f"{wh}/brds", sch, spark=spark)
    t.append(spark.createDataFrame([(1, "main")], sch))
    t.create_branch("dev")
    tb = Table.load(t.path, spark, branch="dev")
    tb.append(spark.createDataFrame([(2, "dev")], sch))
    register(spark)
    got = {(r.k, r.v) for r in
           (spark.read.format("paimon").option("path", t.path)
            .option("branch", "dev").load().collect())}
    assert got == {(1, "main"), (2, "dev")}
    main = {(r.k, r.v) for r in
            (spark.read.format("paimon").option("path", t.path)
             .load().collect())}
    assert main == {(1, "main")}
    t.alter(lambda s: s.set_option("scan.fallback-branch", "dev"))
    with pytest.raises(Exception, match="fallback"):
        (spark.read.format("paimon").option("path", t.path).load()
         .collect())


def test_randomized_tag_pinning_model(spark, wh):
    """Seeded random append / tag / delete-tag / expire sequence vs a
    model: every LIVE tag always reads exactly the state frozen at its
    creation — including after snapshot expiration (tag pinning) — and
    the current read always equals the running model."""
    import random
    from pyspark.sql import types as T
    from paimon_spark import Table
    rng = random.Random(21)
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/tagrand", sch, primary_keys=["k"],
                     options={"bucket": "2"}, spark=spark)
    model: dict[int, int] = {}
    frozen: dict[str, dict] = {}
    n_tags = 0
    t.append(spark.createDataFrame([(0, 0)], sch))
    model[0] = 0
    for step in range(10):
        op = rng.choice(["append", "append", "tag", "drop_tag", "expire"])
        if op == "append":
            rows = [(rng.randint(0, 25), rng.randint(0, 999))
                    for _ in range(rng.randint(1, 5))]
            rows = list({k: (k, v) for k, v in rows}.values())
            t.append(spark.createDataFrame(rows, sch))
            model.update(dict(rows))
        elif op == "tag":
            n_tags += 1
            name = f"t{n_tags}"
            t.create_tag(name)
            frozen[name] = dict(model)
        elif op == "drop_tag" and frozen:
            name = rng.choice(sorted(frozen))
            t.delete_tag(name)
            del frozen[name]
        else:
            t.expire_snapshots(retain_last=rng.randint(1, 3))
        assert {r.k: r.v for r in t.read().collect()} == model, \
            f"step {step}: live read diverged"
        for name, want in frozen.items():
            got = {r.k: r.v for r in t.read(tag=name).collect()}
            assert got == want, f"step {step}: tag {name} diverged"


def test_randomized_rollback_model(spark, wh):
    """Seeded random append / rollback_to sequence vs a per-snapshot
    state history: after every op the live read equals the model, and
    appends after a rollback continue from the rolled-back state
    (discarded snapshots never resurrect)."""
    import random
    from pyspark.sql import types as T
    from paimon_spark import Table
    rng = random.Random(13)
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/rbrand", sch, primary_keys=["k"],
                     options={"bucket": "2"}, spark=spark)
    history: dict[int, dict] = {}            # snapshot id -> state
    state: dict[int, int] = {}
    for step in range(10):
        if rng.random() < 0.3 and len(history) >= 2:
            target = rng.choice(sorted(history)[:-1])
            t.rollback_to(target)
            state = dict(history[target])
            history = {sid: st for sid, st in history.items()
                       if sid <= target}
        else:
            rows = {rng.randint(0, 15): rng.randint(0, 999)
                    for _ in range(rng.randint(1, 4))}
            t.append(spark.createDataFrame(list(rows.items()), sch))
            state.update(rows)
            history[t.paths.latest_snapshot_id()] = dict(state)
        got = {r.k: r.v for r in t.read().collect()}
        assert got == state, f"step {step}: rollback state diverged"


def test_chain_stream_scanner_two_phase(spark, wh):
    """Chain-table streaming scan (ref: ChainTableStreamScan.java:77):
    phase 1 = latest snapshot partition per group + delta partitions
    with a strictly greater chain key (older snapshot partitions and
    lower delta partitions excluded, each key once, natural partitions);
    phase 2 = delta-branch snapshots only; checkpoint state is the next
    delta snapshot id (stateful restore skips phase 1)."""
    from pyspark.sql import types as T

    from paimon_spark import Table
    from paimon_spark.streaming.source import ChainStreamScanner
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = Table.create(
        f"{wh}/cstream", schema, partition_keys=["dt"],
        primary_keys=["dt", "id"],
        options={"bucket": "1", "chain-table.enabled": "true",
                 "scan.fallback-snapshot-branch": "snap",
                 "scan.fallback-delta-branch": "delta"},
        spark=spark)
    snap = t.create_branch("snap")
    delta = t.create_branch("delta")
    snap.append(spark.createDataFrame(
        [("d1", 1, "s-old"), ("d1", 2, "s-old")], schema))   # older part
    snap.append(spark.createDataFrame(
        [("d2", 1, "s2"), ("d2", 2, "s2"), ("d2", 3, "s2")], schema))
    delta.append(spark.createDataFrame(
        [("d1", 9, "del-old")], schema))                      # ckey < d2
    delta.append(spark.createDataFrame(
        [("d3", 2, "d3-upd"), ("d3", 9, "d3-new")], schema))  # ckey > d2

    sc = ChainStreamScanner(t, consumer_id="c1")
    p1 = sorted((r.dt, r.id, r.v) for r in sc.next_batch().collect())
    assert p1 == [("d2", 1, "s2"), ("d2", 2, "s2"), ("d2", 3, "s2"),
                  ("d3", 2, "d3-upd"), ("d3", 9, "d3-new")], p1
    assert sc.next_batch() is None                # caught up
    delta.append(spark.createDataFrame([("d4", 1, "d4")], schema))
    p2 = sorted((r.dt, r.id, r.v, r._row_kind)
                for r in sc.next_batch().collect())
    assert p2 == [("d4", 1, "d4", "+I")], p2
    # consumer restore: phase 1 skipped, resumes at the saved cursor
    sc2 = ChainStreamScanner(t, consumer_id="c1")
    assert sc2._next == sc._next and sc2.next_batch() is None
    # explicit stateful restore from the first delta snapshot
    sc3 = ChainStreamScanner(t, next_delta_snapshot=1)
    p3 = sorted((r.dt, r.id) for r in sc3.next_batch().collect())
    assert p3 == [("d1", 9), ("d3", 2), ("d3", 9), ("d4", 1)], p3


def test_chain_stream_scanner_merge_snapshot(spark, wh):
    """chain-table.streaming.merge-snapshot=true: phase 1 PK-merges the
    latest snapshot partition with its greater-chain-key delta
    partitions, projected to the greatest partition — cross-branch
    updates visible (ref: buildMergedStartingSplits)."""
    from pyspark.sql import types as T

    from paimon_spark import Table
    from paimon_spark.streaming.source import ChainStreamScanner
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = Table.create(
        f"{wh}/cmerge", schema, partition_keys=["dt"],
        primary_keys=["dt", "id"],
        options={"bucket": "1", "chain-table.enabled": "true",
                 "chain-table.streaming.merge-snapshot": "true",
                 "scan.fallback-snapshot-branch": "snap",
                 "scan.fallback-delta-branch": "delta"},
        spark=spark)
    snap = t.create_branch("snap")
    delta = t.create_branch("delta")
    snap.append(spark.createDataFrame(
        [("d2", 1, "s2"), ("d2", 2, "s2"), ("d2", 3, "s2")], schema))
    delta.append(spark.createDataFrame(
        [("d3", 2, "d3-upd"), ("d3", 9, "d3-new")], schema))
    sc = ChainStreamScanner(t)
    p1 = sorted((r.dt, r.id, r.v) for r in sc.next_batch().collect())
    assert p1 == [("d3", 1, "s2"), ("d3", 2, "d3-upd"),
                  ("d3", 3, "s2"), ("d3", 9, "d3-new")], p1


def test_changelog_ignores_fallback_branch(spark, wh, monkeypatch):
    """A changelog window diffs the table's own snapshots: the fallback
    branch that read() unions in for missing partitions belongs to
    neither state. The keyed tier (delta-key replay, one tagged scan)
    and the full diff agree on it."""
    from paimon_spark.operators import changelog as cl
    schema = T.StructType([T.StructField("dt", T.StringType()),
                           T.StructField("k", T.LongType()),
                           T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/fb_cl", schema, partition_keys=["dt"],
                     primary_keys=["dt", "k"], options={"bucket": "1"},
                     spark=spark)
    t.append(spark.createDataFrame([("d1", 1, 1), ("d1", 2, 2)], schema))
    fb = t.create_branch("full")
    fb.append(spark.createDataFrame([("d9", 5, 5)], schema))
    t.schema.options["scan.fallback-branch"] = "full"
    t.append(spark.createDataFrame([("d1", 1, 10), ("d1", 3, 3)], schema))
    assert ("d9", 5, 5) in {tuple(r) for r in t.read().collect()}

    tagged = []
    orig = cl._tagged_scan_pairs

    def spy(*a, **kw):
        tagged.append(a[1:3])
        return orig(*a, **kw)

    monkeypatch.setattr(cl, "_tagged_scan_pairs", spy)

    def canon(df):
        return sorted((r.dt, r.k, r.v, r._row_kind) for r in df.collect())

    want = [("d1", 1, 1, "-U"), ("d1", 1, 10, "+U"), ("d1", 3, 3, "+I")]
    assert canon(cl.derive_changelog(t, 1, 2)) == want
    assert tagged == [(1, 2)]
    assert canon(cl.derive_changelog(t, 1, 2, optimize=False)) == want
