"""Model-based randomized testing of the full MERGE INTO clause surface.

Random clause sets (conditional matched update/delete cascades, NOT
MATCHED inserts, NOT MATCHED BY SOURCE update/delete) run through the
engine on BOTH table kinds — PK (changelog merge-on-read) and append
(copy-on-write) — and against a pure-Python reference model that
implements first-match-wins directly. Any divergence is a bug in the
cascade construction (ref: MergeIntoPaimonTable.scala:47 semantics).
"""

import random

import pytest
from pyspark.sql import types as T

from paimon_spark.table import MergeClause, Table

SCHEMA = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.LongType()),
                       T.StructField("amt", T.DoubleType())])

# condition pool: (engine SQL over t./s. aliases, python predicate)
MATCHED_CONDS = [
    (None, lambda t, s: True),
    ("t.v % 3 = 0", lambda t, s: t["v"] % 3 == 0),
    ("s.amt > 40", lambda t, s: s["amt"] > 40),
    ("t.amt < s.amt", lambda t, s: t["amt"] < s["amt"]),
]
NM_CONDS = [
    (None, lambda s: True),
    ("s.k % 2 = 0", lambda s: s["k"] % 2 == 0),
    ("s.amt > 30", lambda s: s["amt"] > 30),
]
NMBS_CONDS = [
    (None, lambda t: True),
    ("t.k % 4 = 1", lambda t: t["k"] % 4 == 1),
    ("t.v > 50", lambda t: t["v"] > 50),
]

# update assignment pool: (engine assignments, python effect)
UPDATES = [
    ({"v": "s.v"}, lambda t, s: {**t, "v": s["v"]}),
    ({"amt": "t.amt"}, lambda t, s: t),
    ("all", lambda t, s: {"k": t["k"], "v": s["v"], "amt": s["amt"]}),
    ({"v": 777}, lambda t, s: {**t, "v": 777}),
]
NMBS_UPDATES = [
    ({"v": 999}, lambda t: {**t, "v": 999}),
    ({"amt": 0.0}, lambda t: {**t, "amt": 0.0}),
]


def _gen_clauses(rng):
    matched, m_model = [], []
    for _ in range(rng.randint(0, 3)):
        cond, py = rng.choice(MATCHED_CONDS)
        if rng.random() < 0.4:
            matched.append(MergeClause.delete(cond))
            m_model.append((py, "delete", None))
        else:
            asg, eff = rng.choice(UPDATES)
            matched.append(MergeClause.update(asg, cond))
            m_model.append((py, "update", eff))
    not_matched, nm_model = [], []
    for _ in range(rng.randint(0, 2)):
        cond, py = rng.choice(NM_CONDS)
        not_matched.append(MergeClause.insert("all", cond))
        nm_model.append(py)
    nmbs, nb_model = [], []
    for _ in range(rng.randint(0, 2)):
        cond, py = rng.choice(NMBS_CONDS)
        if rng.random() < 0.5:
            nmbs.append(MergeClause.delete(cond))
            nb_model.append((py, "delete", None))
        else:
            asg, eff = rng.choice(NMBS_UPDATES)
            nmbs.append(MergeClause.update(asg, cond))
            nb_model.append((py, "update", eff))
    return (matched, not_matched, nmbs), (m_model, nm_model, nb_model)


def _model_merge(target, source, models):
    m_model, nm_model, nb_model = models
    src = {r["k"]: r for r in source}
    out = {}
    for k, t in target.items():
        if k in src:
            s = src[k]
            fate = "keep"
            for py, action, eff in m_model:
                if py(t, s):
                    fate = action
                    t = eff(t, s) if action == "update" else t
                    break
            if fate != "delete":
                out[k] = t
        else:
            fate = "keep"
            for py, action, eff in nb_model:
                if py(t):
                    fate = action
                    t = eff(t) if action == "update" else t
                    break
            if fate != "delete":
                out[k] = t
    for k, s in src.items():
        if k not in target:
            for py in nm_model:
                if py(s):
                    out[k] = dict(s)
                    break
    return out


@pytest.mark.parametrize("pk", [True, False])
def test_randomized_merge_against_model(spark, wh, pk):
    rng = random.Random(20260814 + pk)
    for trial in range(6):
        target = {k: {"k": k, "v": rng.randint(0, 100),
                      "amt": float(rng.randint(0, 80))}
                  for k in rng.sample(range(30), rng.randint(5, 18))}
        source = [{"k": k, "v": rng.randint(0, 100),
                   "amt": float(rng.randint(0, 80))}
                  for k in rng.sample(range(36), rng.randint(5, 18))]
        (matched, not_matched, nmbs), models = _gen_clauses(rng)
        if not (matched or not_matched or nmbs):
            continue
        t = Table.create(
            f"{wh}/m_{pk}_{trial}", SCHEMA,
            primary_keys=["k"] if pk else None,
            options={"bucket": "2"} if pk else None, spark=spark)
        t.append(spark.createDataFrame(
            [(r["k"], r["v"], r["amt"]) for r in target.values()], SCHEMA))
        t.merge_into(
            spark.createDataFrame(
                [(r["k"], r["v"], r["amt"]) for r in source], SCHEMA),
            on=["k"], matched=matched, not_matched=not_matched,
            not_matched_by_source=nmbs)
        got = {r.k: {"k": r.k, "v": r.v, "amt": r.amt}
               for r in t.read().collect()}
        want = _model_merge(target, source, models)
        assert got == want, (
            f"trial {trial} pk={pk}\n"
            f"matched={[(c.action, c.condition, c.assignments) for c in matched]}\n"
            f"not_matched={[(c.condition,) for c in not_matched]}\n"
            f"nmbs={[(c.action, c.condition, c.assignments) for c in nmbs]}\n"
            f"target={sorted(target)}\nsource={sorted(r['k'] for r in source)}\n"
            f"got-want={ {k: got.get(k) for k in set(got) ^ set(want)} }\n"
            f"diffs={ {k: (got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]} }")


def test_randomized_changelog_with_compactions(spark, wh):
    """r6: derive_changelog's delta-key optimization skips COMPACT
    snapshots (their rewritten files re-add every key without changing
    merged state). Random interleavings of upserts / deletes / full and
    minor compactions must produce the IDENTICAL changelog as the
    unoptimized full-table diff, from every historical snapshot."""
    from paimon_spark.operators.changelog import derive_changelog
    rnd = random.Random(23)
    t = Table.create(f"{wh}/cl_rand", SCHEMA, primary_keys=["k"],
                     options={"bucket": "2"}, spark=spark)
    t.append(spark.createDataFrame(
        [(k, k % 7, float(k)) for k in range(60)], SCHEMA))
    for step in range(6):
        op = rnd.choice(["upsert", "delete", "compact", "upsert"])
        if op == "upsert":
            rows = [(rnd.randrange(0, 80), rnd.randrange(0, 100),
                     float(rnd.randrange(0, 500))) for _ in range(10)]
            t.append(spark.createDataFrame(rows, SCHEMA))
        elif op == "delete":
            from paimon_spark import P
            t.delete_where(P.expr(f"k % 9 = {rnd.randrange(0, 9)}"))
        else:
            t.compact(full=rnd.random() < 0.5)
    latest = t.paths.latest_snapshot_id()

    def canon(df):
        return sorted((r.k, r.v, r.amt, r._row_kind) for r in df.collect())

    for from_snap in (1, 2, latest - 2, latest - 1):
        fast = canon(derive_changelog(t, from_snap))
        slow = canon(derive_changelog(t, from_snap, optimize=False))
        assert fast == slow, f"diverged from snapshot {from_snap}"


def test_random_changelog_reconstructs_state(spark, wh):
    """Invariant: applying the FULL changelog stream (latest-full
    StreamScanner: initial +I state, then per-snapshot -U/+U/-D/+I
    deltas) to an empty dict reconstructs exactly read() after every
    batch boundary. Random upserts and deletes, seeded."""
    import random
    from pyspark.sql import types as T
    from paimon_spark import P, Table
    from paimon_spark.streaming.source import StreamScanner
    rng = random.Random(99)
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/clrec", sch, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame(
        [(k, k) for k in range(20)], sch))
    sc = StreamScanner(t, mode="latest-full")
    state: dict[int, int] = {}

    def drain_and_check():
        while True:
            b = sc.next_batch()
            if b is None:
                break
            for r in b.collect():
                if r["_row_kind"] in ("+I", "+U"):
                    state[r.k] = r.v
                elif r["_row_kind"] == "-D":
                    state.pop(r.k, None)
                # -U carries the pre-image; the +U that follows wins
        assert state == {r.k: r.v for r in t.read().collect()}

    drain_and_check()
    for step in range(8):
        op = rng.choice(["upsert", "upsert", "delete", "compact"])
        if op == "compact":
            # COMPACT rewrites bytes, not logical rows: the changelog
            # stream must emit NOTHING for it
            before = dict(state)
            t.compact()
            drain_and_check()
            assert state == before, "compaction leaked changelog rows"
        elif op == "upsert":
            ks = rng.sample(range(30), rng.randint(1, 5))
            t.append(spark.createDataFrame(
                [(k, k * 1000 + step) for k in ks], sch))
        else:
            live = sorted({r.k for r in t.read().collect()})
            t.delete_where(P.isin("k", rng.sample(live,
                                                  min(2, len(live)))))
        drain_and_check()


def test_commit_time_changelog_keys_sidecar(spark, wh):
    """VERDICT r10 #3: changelog-producer=lookup precomputes the
    per-commit delta-key sidecar at COMMIT time; derived-changelog
    reads then take the sidecar path (no manifest replay, no full-width
    delta scan) and must produce the identical changelog. Rollback must
    invalidate reused-id sidecars (timestamped dir names)."""
    import os

    from paimon_spark import P
    from paimon_spark.operators.changelog import (_sidecar_key_df,
                                                  derive_changelog)
    t = Table.create(f"{wh}/cl_sidecar", SCHEMA, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame(
        [(k, k % 5, float(k)) for k in range(40)], SCHEMA))       # s1
    t.append(spark.createDataFrame(
        [(k, 99, float(k) + 0.5) for k in range(0, 40, 4)], SCHEMA))  # s2
    t.delete_where(P.expr("k % 7 = 3"))                            # s3
    sc_dir = os.path.join(t.paths.meta_root, "changelog-keys")
    names = sorted(os.listdir(sc_dir))
    assert [n.split("-")[1] for n in names] == ["1", "2", "3"], names

    # the sidecar path is taken and covers exactly the changed keys
    got = _sidecar_key_df(t, 1, 3)
    assert got is not None
    keys, rng_pred = got
    got_keys = {r.k for r in keys.collect()}
    want_keys = set(range(0, 40, 4)) | {k for k in range(40) if k % 7 == 3}
    assert got_keys >= want_keys
    assert got_keys <= set(range(40))
    # the _summary.json range predicate brackets the changed keys
    assert rng_pred is not None
    assert rng_pred.test_partition({"k": min(got_keys)})
    assert rng_pred.test_partition({"k": max(got_keys)})
    assert not rng_pred.test_partition({"k": max(got_keys) + 1})

    def canon(df):
        return sorted((r.k, r.v, r.amt, r._row_kind) for r in df.collect())

    assert canon(derive_changelog(t, 1)) == \
        canon(derive_changelog(t, 1, optimize=False))

    # COMPACT writes no sidecar and the window still resolves
    t.compact(full=True)                                           # s4
    assert len(os.listdir(sc_dir)) == 3
    assert _sidecar_key_df(t, 1, 4) is not None
    assert canon(derive_changelog(t, 1)) == \
        canon(derive_changelog(t, 1, optimize=False))

    # rollback drops the undone sidecars; a reused id writes a fresh
    # one (new timestamp) and the changelog reflects the NEW commit
    t.rollback_to(2)
    assert [n.split("-")[1] for n in sorted(os.listdir(sc_dir))] == \
        ["1", "2"]
    t.append(spark.createDataFrame([(777, 1, 1.0)], SCHEMA))       # new s3
    keys3 = _sidecar_key_df(t, 2, 3)
    assert keys3 is not None and {r.k for r in keys3[0].collect()} == {777}
    assert canon(derive_changelog(t, 2)) == \
        canon(derive_changelog(t, 2, optimize=False))


def test_write_only_defers_changelog_to_dedicated_compact(spark, wh):
    """r13 (ref: CoreOptions.WRITE_ONLY:763 — 'compactions and snapshot
    expiration will be skipped. This option is used along with
    dedicated compact jobs'): write-only commits produce NO sidecars
    and skip auto-maintenance; reads meanwhile fall back to the replay
    tiers and stay correct; the dedicated compact call catches up the
    deferred keys+rows sidecars (Table.produce_changelog) and the
    derived changelog matches the unoptimized diff exactly."""
    import os

    from paimon_spark import P
    from paimon_spark.operators.changelog import (_sidecar_key_df,
                                                  derive_changelog)
    t = Table.create(f"{wh}/cl_wo", SCHEMA, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup",
                              "write-only": "true"},
                     spark=spark)
    t.append(spark.createDataFrame(
        [(k, k % 5, float(k)) for k in range(40)], SCHEMA))       # s1
    t.append(spark.createDataFrame(
        [(k, 99, float(k) + 0.5) for k in range(0, 40, 4)], SCHEMA))  # s2
    t.delete_where(P.expr("k % 7 = 3"))                            # s3
    # no sidecars yet — and reads are STILL correct via replay tiers
    assert not os.path.isdir(os.path.join(t.paths.meta_root,
                                          "changelog-keys"))

    def canon(df):
        return sorted((r.k, r.v, r.amt, r._row_kind) for r in df.collect())

    pre = canon(derive_changelog(t, 1, optimize=False))
    assert canon(derive_changelog(t, 1)) == pre

    # dedicated compact job: catches up all three commits' sidecars
    t.compact(full=True)                                           # s4
    sc_dir = os.path.join(t.paths.meta_root, "changelog-keys")
    rows_dir = os.path.join(t.paths.meta_root, "changelog-rows")
    assert [n.split("-")[1] for n in sorted(os.listdir(sc_dir))] == \
        ["1", "2", "3"]
    assert [n.split("-")[1] for n in sorted(os.listdir(rows_dir))] == \
        ["1", "2", "3"]
    t._read_cache.clear()
    assert canon(derive_changelog(t, 1)) == pre
    assert _sidecar_key_df(t, 1, 3) is not None
    # catch-up is idempotent
    assert t.produce_changelog() == 0


def test_changelog_sidecar_decimal_and_binary_pk(spark, wh):
    """ADVICE r12 (high): footer-stat extraction must never abort the
    sidecar write. pyarrow raises for stat types it can't extract (some
    DECIMAL encodings), and the writer's isolation guard then swallowed
    the loss of BOTH sidecars — a lookup-producer table with a decimal
    pk silently dropped every commit from its CDC tail. Also pins the
    binary-bounds rule: non-UTF8 BINARY stats must not become str range
    bounds (they'd be compared against a binary column)."""
    import json
    import os

    from paimon_spark.operators.changelog import (_footer_ranges,
                                                  derive_changelog)
    dec_schema = T.StructType([
        T.StructField("k", T.DecimalType(18, 4)),
        T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/cl_dec_pk", dec_schema, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    from decimal import Decimal
    rows1 = [(Decimal(f"{k}.25"), k) for k in range(20)]
    rows2 = [(Decimal(f"{k}.25"), k + 100) for k in range(0, 20, 3)]
    t.append(spark.createDataFrame(rows1, dec_schema))             # s1
    t.append(spark.createDataFrame(rows2, dec_schema))             # s2
    # BOTH sidecar families must exist for both commits — the decimal
    # pk degrades range pruning, never the sidecar write itself
    keys_dir = os.path.join(t.paths.meta_root, "changelog-keys")
    rows_dir = os.path.join(t.paths.meta_root, "changelog-rows")
    assert [n.split("-")[1] for n in sorted(os.listdir(keys_dir))] == \
        ["1", "2"], os.listdir(keys_dir)
    assert [n.split("-")[1] for n in sorted(os.listdir(rows_dir))] == \
        ["1", "2"], os.listdir(rows_dir)
    # the summary must be well-formed JSON (Decimal bounds are not
    # JSON-serializable — they must be omitted, not crash the dump)
    for n in os.listdir(keys_dir):
        with open(os.path.join(keys_dir, n, "_summary.json")) as f:
            json.load(f)
    # and the derived changelog over the sidecar path matches replay
    def canon(df):
        return sorted((str(r.k), r.v, r._row_kind) for r in df.collect())
    assert canon(derive_changelog(t, 1)) == \
        canon(derive_changelog(t, 1, optimize=False))

    # non-UTF8-annotated BINARY stats: bytes that HAPPEN to decode as
    # UTF-8 must still not become str bounds
    bin_dir = os.path.join(wh, "footer_bin")
    (spark.createDataFrame([(b"aa", 1), (b"zz", 2)], "b binary, v long")
     .coalesce(1).write.mode("overwrite").parquet(bin_dir))
    ranges = _footer_ranges(bin_dir, ["b", "v"])
    assert "b" not in ranges, ranges
    assert ranges.get("v") == [1, 2], ranges


def test_randomized_changelog_sidecar_vs_unoptimized(spark, wh):
    """Same random interleaving invariant as
    test_randomized_changelog_with_compactions, but with the commit-time
    sidecar producer ON: every window must match the unoptimized
    full-table diff exactly."""
    from paimon_spark import P
    from paimon_spark.operators.changelog import derive_changelog
    import time as _time
    rnd = random.Random(41)
    t = Table.create(f"{wh}/cl_rand_sc", SCHEMA, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame(
        [(k, k % 7, float(k)) for k in range(60)], SCHEMA))
    for step in range(8):
        op = rnd.choice(["upsert", "delete", "compact", "upsert",
                         "rollback"])
        if op == "upsert":
            rows = [(rnd.randrange(0, 80), rnd.randrange(0, 100),
                     float(rnd.randrange(0, 500))) for _ in range(10)]
            t.append(spark.createDataFrame(rows, SCHEMA))
        elif op == "delete":
            t.delete_where(P.expr(f"k % 9 = {rnd.randrange(0, 9)}"))
        elif op == "rollback":
            # rollback + id reuse: stale rows/keys sidecars must never
            # be read for the recommitted ids (timestamped dir names)
            latest_now = t.paths.latest_snapshot_id()
            if latest_now > 2:
                t.rollback_to(rnd.randrange(2, latest_now))
                _time.sleep(0.002)
        else:
            t.compact(full=rnd.random() < 0.5)
    latest = t.paths.latest_snapshot_id()
    if latest < 4:
        t.append(spark.createDataFrame([(1, 1, 1.0)], SCHEMA))
        latest = t.paths.latest_snapshot_id()

    def canon(df):
        return sorted((r.k, r.v, r.amt, r._row_kind) for r in df.collect())

    for from_snap in (1, 2, latest - 2, latest - 1):
        fast = canon(derive_changelog(t, from_snap))
        slow = canon(derive_changelog(t, from_snap, optimize=False))
        assert fast == slow, f"diverged from snapshot {from_snap}"


def test_changelog_sidecar_range_predicate_skips_files(spark, wh):
    """Localized update: the sidecar's min/max summary becomes a pk-range
    predicate on the restricted merge reads, so files whose stats can't
    contain a changed key are SKIPPED (at 100 TB the merge branches stop
    being full-table scans when changes are key-local). Asserts (a) the
    changelog is identical to the unoptimized diff, (b) the restricted
    reads actually received the range predicate, (c) the scanner prunes
    the untouched low-key file under it."""
    import os
    from unittest.mock import patch

    from paimon_spark import P
    from paimon_spark.operators.changelog import derive_changelog
    t = Table.create(f"{wh}/cl_range", SCHEMA, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame(
        [(k, k, float(k)) for k in range(100)], SCHEMA))          # s1
    t.append(spark.createDataFrame(
        [(k, k, float(k)) for k in range(100, 200)], SCHEMA))     # s2
    t.append(spark.createDataFrame(
        [(k, 7, 7.0) for k in range(150, 160)], SCHEMA))          # s3

    seen_preds = []
    orig = Table.read

    def spy(self, predicate=None, **kw):
        if kw.get("with_hidden"):
            seen_preds.append(predicate)
        return orig(self, predicate=predicate, **kw)

    want = sorted([(k, k, "-U") for k in range(150, 160)]
                  + [(k, 7, "+U") for k in range(150, 160)])
    # lookup producer: precomputed changelog ROWS collapse — the table
    # is never read at all
    t._read_cache.clear()
    with patch.object(Table, "read", spy):
        cl = sorted((r.k, r.v, r._row_kind)
                    for r in derive_changelog(t, 2).collect())
    assert cl == want
    assert seen_preds == []
    # rows dirs removed → key-sidecar path: exactly two state plans
    # (snapshots 2 and 3), BOTH carrying the pk-range predicate — no
    # unpredicated full-table plan in the keyed tier
    import shutil as _sh

    from paimon_spark.scanner import Scanner
    _sh.rmtree(os.path.join(t.paths.meta_root, "changelog-rows"))
    t._read_cache.clear()
    orig_plan = Scanner.plan
    planned = []

    def plan_spy(self, predicate=None, snapshot_id=None, *a, **kw):
        planned.append((snapshot_id, predicate))
        return orig_plan(self, predicate, snapshot_id, *a, **kw)

    with patch.object(Scanner, "plan", plan_spy):
        cl = sorted((r.k, r.v, r._row_kind)
                    for r in derive_changelog(t, 2).collect())
    assert cl == want
    assert len(planned) == 2
    assert all(p is not None for _, p in planned)
    assert {sid for sid, _ in planned} == {2, 3}
    # the range predicate prunes the untouched files at plan time:
    # s1's 0..99 file (and s2's 100..149 rows live in a file whose
    # range 100..199 overlaps — kept)
    plan = t.new_scan().plan(predicate=P.between("k", 150, 159),
                             snapshot_id=3)
    assert plan.files_skipped >= 1, plan.files_skipped


def test_changelog_rows_collapse_edge_cases(spark, wh):
    """Collapse semantics of the precomputed changelog files must equal
    diff-of-merged-states on the tricky windows: a key inserted then
    deleted inside the window emits NOTHING; a value changed and then
    restored emits NOTHING; a key updated twice emits only the endpoint
    -U/+U pair (no intermediate images)."""
    from paimon_spark import P
    from paimon_spark.operators.changelog import (_collapsed_from_rows,
                                                  derive_changelog)
    t = Table.create(f"{wh}/cl_edge", SCHEMA, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)], SCHEMA))      # s1
    t.append(spark.createDataFrame([(9, 90, 9.0)], SCHEMA))       # s2 insert
    t.append(spark.createDataFrame([(1, 11, 1.0)], SCHEMA))       # s3 1st upd
    t.append(spark.createDataFrame([(1, 12, 1.0)], SCHEMA))       # s4 2nd upd
    t.delete_where(P.expr("k = 9"))                               # s5 del 9
    t.append(spark.createDataFrame([(2, 99, 2.0)], SCHEMA))       # s6 change
    t.append(spark.createDataFrame([(2, 20, 2.0)], SCHEMA))       # s7 restore

    # the collapse path is actually taken for the whole window
    assert _collapsed_from_rows(t, 1, 7) is not None
    got = sorted((r.k, r.v, r._row_kind)
                 for r in derive_changelog(t, 1).collect())
    # key 9: insert+delete inside window → nothing; key 2: restored →
    # nothing; key 1: endpoints only (10→12, not 10→11→12); key 3:
    # untouched → nothing
    assert got == [(1, 10, "-U"), (1, 12, "+U")], got
    # matches the unoptimized full diff exactly
    slow = sorted((r.k, r.v, r._row_kind)
                  for r in derive_changelog(t, 1, optimize=False).collect())
    assert got == slow
    # a window that OPENS mid-history: (5, 7] sees only key 2's no-op
    got57 = sorted((r.k, r.v, r._row_kind)
                   for r in derive_changelog(t, 5, 7).collect())
    assert got57 == []
    # (4, 6]: delete of 9 and the 2→99 change
    got46 = sorted((r.k, r.v, r._row_kind)
                   for r in derive_changelog(t, 4, 6).collect())
    assert got46 == [(2, 20, "-U"), (2, 99, "+U"), (9, 90, "-D")], got46


def test_changelog_producer_enabled_mid_history(spark, wh):
    """Turning changelog-producer=lookup ON for an existing table: new
    commits get rows+keys sidecars; windows that reach BEFORE the
    enable point silently fall back to manifest replay (partial sidecar
    coverage must never drop changed keys), windows entirely after it
    take the rows-collapse path."""
    import os

    from paimon_spark.operators.changelog import (_collapsed_from_rows,
                                                  _sidecar_key_df,
                                                  derive_changelog)
    t = Table.create(f"{wh}/cl_mid", SCHEMA, primary_keys=["k"],
                     options={"bucket": "2"}, spark=spark)
    t.append(spark.createDataFrame(
        [(k, k, float(k)) for k in range(20)], SCHEMA))           # s1
    t.append(spark.createDataFrame([(3, 33, 3.0)], SCHEMA))       # s2
    t.alter(lambda sc: sc.set_option("changelog-producer", "lookup"))
    t.append(spark.createDataFrame([(5, 55, 5.0)], SCHEMA))       # s3
    t.append(spark.createDataFrame([(3, 34, 3.0)], SCHEMA))       # s4
    sc_dir = os.path.join(t.paths.meta_root, "changelog-rows")
    assert sorted(n.split("-")[1] for n in os.listdir(sc_dir)) == ["3", "4"]

    # window reaching before the enable point: no sidecar/rows tier
    assert _collapsed_from_rows(t, 1, 4) is None
    assert _sidecar_key_df(t, 1, 4) is None
    # window after: rows tier available
    assert _collapsed_from_rows(t, 2, 4) is not None

    def canon(from_snap):
        return sorted((r.k, r.v, r._row_kind)
                      for r in derive_changelog(t, from_snap).collect())

    for f in (1, 2, 3):
        t._read_cache.clear()
        fast = canon(f)
        t._read_cache.clear()
        slow = sorted((r.k, r.v, r._row_kind) for r in
                      derive_changelog(t, f, optimize=False).collect())
        assert fast == slow, f


def test_changelog_rows_collapse_schema_evolution_fallback(spark, wh):
    """ADVICE r11: changelog-rows files persist the field set at write
    time, so a window spanning an add-column must NOT raise from the
    strict union in _collapsed_from_rows — it returns None and
    derive_changelog falls back to a tier that re-merges under the
    CURRENT schema; a window entirely after the evolution still takes
    the rows-collapse path."""
    from paimon_spark.operators.changelog import (_collapsed_from_rows,
                                                  derive_changelog)
    t = Table.create(f"{wh}/cl_evo", SCHEMA, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0)], SCHEMA))                    # s1
    t.append(spark.createDataFrame([(1, 11, 1.0)], SCHEMA))       # s2
    t = t.alter(lambda sc: sc.add_column("extra", T.LongType()))
    wide = T.StructType(SCHEMA.fields
                        + [T.StructField("extra", T.LongType())])
    t.append(spark.createDataFrame([(2, 21, 2.0, 7)], wide))      # s3
    t.append(spark.createDataFrame([(1, 12, 1.0, 8)], wide))      # s4

    # spanning window: old rows files lack 'extra' → collapse declines
    assert _collapsed_from_rows(t, 1, 4) is None
    # post-evolution window: homogeneous column set → collapse answers
    assert _collapsed_from_rows(t, 3, 4) is not None
    # the public read must still answer the spanning window (fallback),
    # identically to the unoptimized full diff
    for f in (1, 2, 3):
        t._read_cache.clear()
        fast = sorted((r.k, r.v, r.extra, r._row_kind)
                      for r in derive_changelog(t, f).collect())
        t._read_cache.clear()
        slow = sorted((r.k, r.v, r.extra, r._row_kind)
                      for r in derive_changelog(t, f,
                                                optimize=False).collect())
        assert fast == slow, f
    got = sorted((r.k, r.v, r.extra, r._row_kind)
                 for r in derive_changelog(t, 2).collect())
    assert got == [(1, 11, None, "-U"), (1, 12, 8, "+U"),
                   (2, 20, None, "-U"), (2, 21, 7, "+U")], got


def test_tmp_sidecar_dirs_swept(spark, wh):
    """ADVICE r11: '_tmp-*' staging dirs left by a crashed sidecar
    write are reclaimed by the GC sweep — when the final dir exists,
    when their snapshot expired, or when they outlive the TTL —
    while a FRESH tmp dir for a live snapshot is left alone."""
    import os
    import time as _time
    t = Table.create(f"{wh}/cl_tmp", SCHEMA, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame([(1, 10, 1.0)], SCHEMA))       # s1
    t.append(spark.createDataFrame([(1, 11, 1.0)], SCHEMA))       # s2
    d = os.path.join(t.paths.meta_root, "changelog-rows")
    finals = sorted(n for n in os.listdir(d) if not n.startswith("_"))
    assert len(finals) == 2
    # crash leftovers: completed-later (final exists), aged, and fresh
    done = os.path.join(d, "_tmp-" + finals[1])
    os.makedirs(done)
    aged = os.path.join(d, "_tmp-cl-999-1")
    os.makedirs(aged)
    old = _time.time() - t._TMP_SIDECAR_TTL_S - 10
    os.utime(aged, (old, old))
    fresh = os.path.join(d, "_tmp-cl-998-1")
    os.makedirs(fresh)
    t._drop_expired_changelog_keys()
    left = sorted(n for n in os.listdir(d))
    assert "_tmp-" + finals[1] not in left       # retry completed
    assert "_tmp-cl-999-1" not in left           # outlived TTL
    assert "_tmp-cl-998-1" in left               # fresh: kept
    assert all(f in left for f in finals)        # real sidecars kept


def test_sidecar_write_failure_does_not_skip_post_commit(spark, wh,
                                                         monkeypatch):
    """ADVICE r11: a failing changelog sidecar derivation must not
    swallow _post_commit — retention/maintenance still runs and the
    commit stays durable (reads fall back to replay)."""
    import paimon_spark.writer as W
    t = Table.create(f"{wh}/cl_fail", SCHEMA, primary_keys=["k"],
                     options={"bucket": "1",
                              "changelog-producer": "lookup"},
                     spark=spark)
    calls = {"post": 0}
    orig_post = W.BatchWriter._post_commit

    def counting_post(self, snap, kind):
        calls["post"] += 1
        return orig_post(self, snap, kind)

    def boom(self, snap, entries, kind):
        raise RuntimeError("injected sidecar failure")

    monkeypatch.setattr(W.BatchWriter, "_post_commit", counting_post)
    monkeypatch.setattr(W.BatchWriter, "_maybe_write_changelog_keys",
                        boom)
    t.append(spark.createDataFrame([(1, 10, 1.0)], SCHEMA))
    assert calls["post"] == 1                    # maintenance still ran
    assert t.paths.latest_snapshot_id() == 1     # commit durable
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, 10)]


def test_sidecar_footer_ranges_match_data(spark, wh):
    """r12: the key-sidecar min/max summary now comes from parquet
    FOOTER stats (driver-side) instead of a second Spark job — the
    ranges must still bound the commit's true key set exactly, for
    int and string pk columns alike, and the range predicate must
    still skip files on the restricted merge reads."""
    import glob
    import json
    import os

    from paimon_spark.operators.changelog import _footer_ranges
    sch2 = T.StructType([T.StructField("k", T.LongType()),
                         T.StructField("s", T.StringType()),
                         T.StructField("v", T.LongType())])
    t = Table.create(f"{wh}/footer_rng", sch2,
                     primary_keys=["k", "s"],
                     options={"bucket": "2",
                              "changelog-producer": "full-compaction"},
                     spark=spark)
    rows = [(i, f"key-{i:04d}", i * 10) for i in range(50, 150)]
    t.append(spark.createDataFrame(rows, sch2))
    d = glob.glob(os.path.join(t.paths.meta_root,
                               "changelog-keys", "keys-1-*"))[0]
    with open(os.path.join(d, "_summary.json")) as f:
        ranges = json.load(f)["ranges"]
    assert ranges["k"] == [50, 149]
    assert ranges["s"] == ["key-0050", "key-0149"]
    # helper agrees with itself on re-read and with the true data
    assert _footer_ranges(d, ["k", "s"]) == ranges
