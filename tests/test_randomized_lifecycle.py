"""Randomized model tests (r9, VERDICT r8 #6): branches/tags lifecycle
interplay with snapshot expiration, and concurrent-writer commit
conflicts. The model is a plain dict replay; every step asserts the
engine agrees with it. (The r8 family found the DV-resurrection leak;
these extend it to the metadata lifecycle and the commit protocol.)"""

from pyspark.sql import functions as F, types as T

from paimon_spark import P, Table
from tests.conftest import *  # noqa: F401,F403

SCH = T.StructType([T.StructField("k", T.LongType()),
                    T.StructField("v", T.LongType())])


def test_randomized_branch_tag_expire_model(spark, wh):
    """Seeded random sequence of append / tag / branch / branch-append /
    delete-tag / delete-branch / expire ops against dict models:

    - the main read always equals the main model;
    - every live tag still reads the state it pinned (expiration must
      never remove a tagged snapshot — tag pins, table.py:1932);
    - every live branch reads its own model (branch commits never leak
      into main and vice versa);
    - reads of expired snapshot ids raise; tagged ids survive expiry.
    (ref: BranchManager.java, TagManager, ExpireSnapshotsImpl.java)"""
    import random
    rng = random.Random(29)
    t = Table.create(f"{wh}/life", SCH, primary_keys=["k"],
                     options={"bucket": "2"}, spark=spark)
    state: dict[int, int] = {}
    history: dict[int, dict] = {}           # main snapshot id -> state
    tags: dict[str, dict] = {}              # tag name -> pinned state
    tag_sids: dict[str, int] = {}
    branches: dict[str, dict] = {}          # branch name -> its state
    expired: set[int] = set()
    n_tag = n_br = 0

    def append_main():
        nonlocal state
        rows = {rng.randint(0, 20): rng.randint(0, 999)
                for _ in range(rng.randint(1, 4))}
        t.append(spark.createDataFrame(list(rows.items()), SCH))
        state.update(rows)
        history[t.paths.latest_snapshot_id()] = dict(state)

    append_main()                            # ensure a snapshot exists
    for step in range(14):
        op = rng.choice(["append", "append", "tag", "branch",
                         "branch_append", "del_tag", "del_branch",
                         "expire"])
        if op == "append":
            append_main()
        elif op == "tag":
            n_tag += 1
            name = f"t{n_tag}"
            t.create_tag(name)
            tags[name] = dict(state)
            tag_sids[name] = t.paths.latest_snapshot_id()
        elif op == "branch":
            n_br += 1
            name = f"b{n_br}"
            if tags and rng.random() < 0.5:
                src = rng.choice(sorted(tags))
                t.create_branch(name, tag=src)
                branches[name] = dict(tags[src])
            else:
                t.create_branch(name)
                branches[name] = dict(state)
        elif op == "branch_append" and branches:
            name = rng.choice(sorted(branches))
            bt = t.branch(name)
            rows = {rng.randint(0, 20): rng.randint(1000, 1999)
                    for _ in range(rng.randint(1, 3))}
            bt.append(spark.createDataFrame(list(rows.items()), SCH))
            branches[name].update(rows)
        elif op == "del_tag" and tags:
            name = rng.choice(sorted(tags))
            t.delete_tag(name)
            del tags[name], tag_sids[name]
        elif op == "del_branch" and branches:
            name = rng.choice(sorted(branches))
            t.delete_branch(name)
            del branches[name]
        elif op == "expire":
            latest = t.paths.latest_snapshot_id()
            retain = rng.randint(1, 3)
            t.expire_snapshots(retain_last=retain)
            cutoff = latest - retain + 1
            for sid in list(history):
                if sid < cutoff and sid not in tag_sids.values():
                    expired.add(sid)
                    history.pop(sid, None)
        # ---- invariants ----
        got = {r.k: r.v for r in t.read().collect()}
        assert got == state, f"step {step} ({op}): main diverged"
        for name, tstate in tags.items():
            tg = {r.k: r.v for r in t.read(tag=name).collect()}
            assert tg == tstate, f"step {step}: tag {name} diverged"
        for name, bstate in branches.items():
            bg = {r.k: r.v for r in t.branch(name).read().collect()}
            assert bg == bstate, f"step {step}: branch {name} diverged"
    # expired snapshots are gone; tagged ones survived
    import os
    for sid in expired:
        assert not os.path.exists(t.paths.snapshot_file(sid)), sid
    for name, sid in tag_sids.items():
        assert {r.k: r.v for r in t.read(snapshot_id=sid).collect()} \
            == tags[name]


def test_randomized_concurrent_writer_conflicts(spark, wh):
    """N threads race M appends each onto one PK table (overlapping
    keys). The 2-phase commit protocol must linearize the METADATA:
    every commit lands (no lost snapshot), ids are dense, and every
    batch's rows appear in some snapshot's delta. The merged VALUE for
    a contended key follows the reference's tie rule — concurrent
    writers can bake the same _sequence_number, and ties break by file
    (creationTime, fileName), NOT by commit order (ref: Levels.java:
    62-81; our TIE_COL in operators/merge.py) — so the model asserts
    determinism (repeated fresh reads agree) and winner-validity (the
    value was written for that key), not snapshot-order replay."""
    import random
    from concurrent.futures import ThreadPoolExecutor
    rng = random.Random(41)
    t = Table.create(f"{wh}/conc", SCH, primary_keys=["k"],
                     options={"bucket": "2"}, spark=spark)
    n_writers, n_commits = 4, 3
    batches = [[{rng.randint(0, 12): rng.randint(0, 999)
                 for _ in range(rng.randint(1, 4))}
                for _ in range(n_commits)] for _ in range(n_writers)]

    def writer(i):
        tt = Table.load(t.path, spark)
        for rows in batches[i]:
            tt.append(spark.createDataFrame(list(rows.items()), SCH))

    with ThreadPoolExecutor(max_workers=n_writers) as pool:
        futs = [pool.submit(writer, i) for i in range(n_writers)]
        for f in futs:
            f.result()

    latest = t.paths.latest_snapshot_id()
    assert latest == n_writers * n_commits          # no lost commits
    # every written batch is some snapshot's delta (nothing dropped)
    deltas = []
    for sid in range(1, latest + 1):
        deltas.append({(r.k, r.v) for r in
                       t.read_incremental(sid - 1, sid,
                                          with_kind=False).collect()})
    for i, ws in enumerate(batches):
        for rows in ws:
            assert set(rows.items()) in deltas, f"writer {i} lost a batch"
    # merged read: all keys present, each value is one that was written
    # for that key, and the result is DETERMINISTIC across fresh reads
    candidates: dict[int, set] = {}
    for ws in batches:
        for rows in ws:
            for k, v in rows.items():
                candidates.setdefault(k, set()).add(v)
    got = {r.k: r.v for r in t.read().collect()}
    assert set(got) == set(candidates)
    for k, v in got.items():
        assert v in candidates[k], (k, v)
    for _ in range(2):
        again = {r.k: r.v for r in
                 Table.load(t.path, spark).read().collect()}
        assert again == got, "merged read is nondeterministic"


def test_randomized_chain_table_model(spark, wh):
    """Seeded random commits to a chain table's three planes (main /
    snapshot branch / delta branch) vs a dict model of the three-level
    fallback: per partition p — main wins outright; else the snapshot
    branch serves p as-is; else p is RECONSTRUCTED from the greatest
    snapshot partition below it overlaid by delta partitions in
    (anchor, p], later chain rank winning per key (ref:
    ChainTableUtils.findFirstLatestPartitions/getDeltaPartitions,
    ChainPartitionProjector). Also checks ChainStreamScanner phase 1
    after every step (latest snapshot partition + greater-key deltas)."""
    import random

    from pyspark.sql import types as T

    from paimon_spark.streaming.source import ChainStreamScanner
    rng = random.Random(17)
    sch = T.StructType([T.StructField("dt", T.StringType()),
                        T.StructField("id", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = Table.create(
        f"{wh}/chrand", sch, partition_keys=["dt"],
        primary_keys=["dt", "id"],
        options={"bucket": "1", "chain-table.enabled": "true",
                 "scan.fallback-snapshot-branch": "snap",
                 "scan.fallback-delta-branch": "delta"},
        spark=spark)
    snap_t = t.create_branch("snap")
    delta_t = t.create_branch("delta")
    parts = [f"d{i}" for i in range(1, 7)]
    main_m: dict[str, dict] = {}
    snap_m: dict[str, dict] = {}
    delta_m: dict[str, dict] = {}

    def expected_batch():
        out: dict[tuple, int] = {}
        for p in sorted(set(main_m) | set(snap_m) | set(delta_m)):
            if p in main_m:
                rows = main_m[p]
            elif p in snap_m:
                rows = snap_m[p]
            else:
                anchors = [s for s in snap_m if s < p]
                merged: dict[int, int] = {}
                lo = max(anchors) if anchors else None
                if lo is not None:
                    merged.update(snap_m[lo])
                for d in sorted(d for d in delta_m
                                if (lo is None or d > lo) and d <= p):
                    merged.update(delta_m[d])
                rows = merged
            for k, v in rows.items():
                out[(p, k)] = v
        return out

    def expected_phase1():
        out: dict[tuple, int] = {}
        if snap_m:
            top = max(snap_m)
            for k, v in snap_m[top].items():
                out[(top, k)] = v
            dparts = [d for d in delta_m if d > top]
        else:
            dparts = list(delta_m)
        for d in dparts:
            for k, v in delta_m[d].items():
                out[(d, k)] = v
        return out

    for step in range(10):
        plane = rng.choice(["main", "snap", "delta", "delta"])
        p = rng.choice(parts)
        rows = {rng.randint(0, 8): rng.randint(0, 999)
                for _ in range(rng.randint(1, 4))}
        df = spark.createDataFrame([(p, k, v) for k, v in rows.items()], sch)
        if plane == "main":
            t.append(df)
            main_m.setdefault(p, {}).update(rows)
        elif plane == "snap":
            snap_t.append(df)
            snap_m.setdefault(p, {}).update(rows)
        else:
            delta_t.append(df)
            delta_m.setdefault(p, {}).update(rows)
        got = {(r.dt, r.id): r.v for r in t.read().collect()}
        assert got == expected_batch(), \
            f"step {step} ({plane} {p}): batch chain read diverged"
        p1 = {(r.dt, r.id): r.v
              for r in ChainStreamScanner(t)._phase1().collect()}
        assert p1 == expected_phase1(), \
            f"step {step} ({plane} {p}): phase-1 stream diverged"


def test_randomized_dedup_index_lifecycle(spark, wh):
    """Seeded random append / delete / compact / refresh sequence on a
    documents table carrying a persisted MinHash dedup index. Model
    invariants:

    - refresh_dedup_index returns 'fresh' when nothing committed,
      'rebuilt' when any non-append/non-compact snapshot (delete)
      intervened, else 'incremental' — COMPACT snapshots rewrite files,
      not the logical row set, so they must NOT force a rebuild;
    - after every refresh the index meta pins the latest snapshot;
    - indexed candidates ≡ the index-free fallback (on-the-fly banding
      of the live corpus) after EVERY refresh — the two planes must
      agree no matter what history produced the index."""
    import os
    import random

    rng = random.Random(31)
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 160)
            .collect())
    pool = [(int(r.doc_id), r.text) for r in docs if r.doc_id % 7 != 0]
    new_batch = spark.createDataFrame(
        [(int(r.doc_id), r.text) for r in docs if r.doc_id % 7 == 0],
        "doc_id long, text string")
    sch = T.StructType([T.StructField("doc_id", T.LongType()),
                        T.StructField("text", T.StringType())])
    t = Table.create(f"{wh}/ddl", sch, spark=spark)
    live: set[int] = set()

    def append_some():
        take = rng.sample(pool, rng.randint(2, 10))
        fresh = [(i, s) for i, s in take if i not in live]
        if not fresh:
            return False
        t.append(spark.createDataFrame(fresh, sch))
        live.update(i for i, _ in fresh)
        return True

    append_some() or append_some()
    t.create_dedup_index(n_buckets=8)
    dirty = False        # commits since the indexed snapshot?
    broken = False       # non-append (delete) among them?

    def check_plane_parity():
        idx = sorted((r.new_id, r.dup_of, r.src) for r in
                     t.dedup_against_index(new_batch).collect())
        root = t._index_dir("dedup", "text")
        os.rename(root, root + ".aside")
        try:
            fb = sorted((r.new_id, r.dup_of, r.src) for r in
                        t.dedup_against_index(new_batch).collect())
        finally:
            os.rename(root + ".aside", root)
        assert idx == fb

    for step in range(12):
        op = rng.choice(["append", "append", "delete", "compact",
                         "refresh", "refresh"])
        if op == "append":
            dirty |= append_some()
        elif op == "delete":
            if live:
                victim = rng.choice(sorted(live))
                t.delete_where(P.eq("doc_id", victim))
                live.discard(victim)
                dirty = broken = True
        elif op == "compact":
            t.compact()          # rewrites files, not the row set
        else:
            got = t.refresh_dedup_index()
            want = ("rebuilt" if broken
                    else "incremental" if dirty else "fresh")
            # compact-only histories may legally report either side of
            # the fresh/incremental line depending on whether a compact
            # snapshot was committed; both serve identical rows
            if got == "incremental" and want == "fresh":
                pass
            else:
                assert got == want, f"step {step}: {got} != {want}"
            dirty = broken = False
            meta = t.dedup_index_meta("text")
            assert meta["snapshot_id"] == t.paths.latest_snapshot_id()
            check_plane_parity()
    t.refresh_dedup_index()
    check_plane_parity()


def test_randomized_consumer_lifecycle_model(spark, wh):
    """Seeded random append / drain / scanner-restart / expire sequence
    against a PK table with a durable consumer id. Invariants:

    - exactly-once: replaying every batch the consumer EVER drained, in
      order, reconstructs the table's final merged state — no snapshot
      skipped, none delivered twice, across arbitrary restarts;
    - expiration never breaks the consumer: expire_snapshots(1) with a
      lagging consumer must pin everything the consumer still needs
      (ref ConsumerManager minNextSnapshot), so every later drain still
      succeeds. (ref: consumer/Consumer.java; ExpireSnapshotsImpl)"""
    import random

    from paimon_spark.streaming.source import StreamScanner

    rng = random.Random(47)
    t = Table.create(f"{wh}/cons", SCH, primary_keys=["k"],
                     options={"bucket": "2"}, spark=spark)
    model: dict[int, int] = {}
    replay: dict[int, int] = {}

    def append():
        rows = {rng.randint(0, 15): rng.randint(0, 999)
                for _ in range(rng.randint(1, 3))}
        t.append(spark.createDataFrame(list(rows.items()), SCH))
        model.update(rows)

    append()
    sc = StreamScanner(t, mode="latest-full", consumer_id="m1")

    def drain():
        while True:
            b = sc.next_batch()
            if b is None:
                return
            for r in b.collect():
                replay[r["k"]] = r["v"]

    for _ in range(16):
        op = rng.choice(["append", "append", "drain", "restart",
                         "expire"])
        if op == "append":
            append()
        elif op == "drain":
            drain()
        elif op == "restart":
            sc = StreamScanner(t, mode="latest-full", consumer_id="m1")
        else:
            t.expire_snapshots(retain_last=1)
    drain()
    assert replay == model
    assert {r["k"]: r["v"] for r in t.read().collect()} == model


def test_randomized_embedding_dedup_index_lifecycle(spark, wh):
    """Sign-LSH twin of the dedup-index lifecycle model: random
    append / delete / refresh interleavings over an embeddings table;
    same invariants (label model; indexed candidates ≡ index-free
    fallback after every refresh)."""
    import os
    import random

    rng = random.Random(50)      # covers incremental, rebuilt AND fresh
    emb = (spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding").filter(F.col("vec_id") < 200)
        .collect())
    pool = [(int(r.vec_id), list(r.embedding)) for r in emb
            if r.vec_id % 7 != 0]
    sch = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    new_batch = spark.createDataFrame(
        [(int(r.vec_id), list(r.embedding)) for r in emb
         if r.vec_id % 7 == 0], sch)
    t = Table.create(f"{wh}/vdl", sch, spark=spark)
    live: set[int] = set()

    def append_some():
        take = rng.sample(pool, rng.randint(2, 12))
        fresh = [(i, v) for i, v in take if i not in live]
        if not fresh:
            return False
        t.append(spark.createDataFrame(fresh, sch))
        live.update(i for i, _ in fresh)
        return True

    append_some() or append_some()
    t.create_embedding_dedup_index(n_buckets=8)
    dirty = broken = False

    def parity():
        idx = sorted((r.new_id, r.dup_of, r.src) for r in
                     t.dedup_embeddings_against_index(new_batch)
                     .collect())
        root = t._index_dir("dedup_vec", "embedding")
        os.rename(root, root + ".aside")
        try:
            fb = sorted((r.new_id, r.dup_of, r.src) for r in
                        t.dedup_embeddings_against_index(new_batch)
                        .collect())
        finally:
            os.rename(root + ".aside", root)
        assert idx == fb

    for step in range(10):
        op = rng.choice(["append", "append", "delete", "refresh",
                         "refresh"])
        if op == "append":
            dirty |= append_some()
        elif op == "delete":
            if live:
                victim = rng.choice(sorted(live))
                t.delete_where(P.eq("vec_id", victim))
                live.discard(victim)
                dirty = broken = True
        else:
            got = t.refresh_embedding_dedup_index()
            want = ("rebuilt" if broken
                    else "incremental" if dirty else "fresh")
            assert got == want, f"step {step}: {got} != {want}"
            dirty = broken = False
            meta = t.embedding_dedup_index_meta("embedding")
            assert meta["snapshot_id"] == t.paths.latest_snapshot_id()
            parity()
    t.refresh_embedding_dedup_index()
    parity()


def test_randomized_postpone_table_model(spark, wh):
    """Postpone tables (bucket=-2, ref BucketMode POSTPONE_MODE):
    random append / delete / compact / expire interleavings against a
    two-plane model — `visible` (state as of the last compaction: reads
    show EXACTLY this; postponed writes stay invisible) and an ordered
    pending-op log. EVERYTHING including row-level DELETE is deferred:
    delete_where writes -D rows through the write path, which postpones
    them, and the -D set is computed from the VISIBLE plane at delete
    time. compact() replays the log in commit order (sequence-number
    merge), and -2 pseudo-bucket entries never survive a compaction."""
    import random

    # seed 113: 4 real deletes, 2 delete→compact replays, and one
    # delete-then-reinsert-of-the-same-key before a compact (the +I
    # outsequences the -D, so the key must survive)
    rng = random.Random(113)
    t = Table.create(f"{wh}/pp", SCH, primary_keys=["k"],
                     options={"bucket": "-2",
                              "postpone.default-bucket-num": "4"},
                     spark=spark)
    visible: dict[int, int] = {}
    oplog: list[tuple[str, int, int | None]] = []   # commit order

    def check():
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == visible, f"read {got} != visible {visible}"

    def replay():
        for kind, k, v in oplog:
            if kind == "+":
                visible[k] = v
            else:
                visible.pop(k, None)
        oplog.clear()

    for step in range(14):
        op = rng.choice(["append", "append", "delete", "compact",
                         "compact", "expire"])
        if op == "append":
            rows = {rng.randint(0, 12): rng.randint(0, 999)
                    for _ in range(rng.randint(1, 4))}
            t.append(spark.createDataFrame(list(rows.items()), SCH))
            oplog.extend(("+", k, v) for k, v in rows.items())
        elif op == "delete":
            if visible:
                victim = rng.choice(sorted(visible))
                t.delete_where(P.eq("k", victim))
                oplog.append(("-", victim, None))
        elif op == "compact":
            t.compact()
            replay()
            snap = t.paths.latest_snapshot()
            if snap is not None:
                ent = t.paths.live_entries(snap)
                assert all(e.bucket != -2 for e in ent)
        else:
            t.expire_snapshots(retain_last=2)
        check()
    t.compact()
    replay()
    check()


def test_randomized_index_history_model(spark, wh):
    """Index × history interactions (VERDICT r9 #7): seeded random
    append / delete / ROLLBACK / branch-append / refresh ops on a
    documents table carrying persisted dedup + fulltext indexes.
    Invariants after every step:

    - indexed dedup candidates ≡ index-free fallback (the index dir
      moved aside) — no phantom pairs from rolled-back docs, no missing
      pairs, regardless of what history produced the index;
    - full_text_search ≡ exact BM25 over the live corpus;
    - refresh after a rollback that REWROTE the indexed base returns
      'rebuilt' (snapshot ids are re-used; an id-only freshness check
      silently serves the stale index — the meta pins id+timestamp);
    - branch index state is isolated: branch refreshes never move the
      main meta, and branch candidates reflect the branch corpus."""
    import os
    import random

    from paimon_spark.functions.text import bm25_search

    rng = random.Random(73)
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 120)
            .collect())
    pool = [(int(r.doc_id), r.text) for r in docs if r.doc_id % 6 != 0]
    sch = T.StructType([T.StructField("doc_id", T.LongType()),
                        T.StructField("text", T.StringType())])
    new_batch = spark.createDataFrame(
        [(int(r.doc_id), r.text) for r in docs if r.doc_id % 6 == 0], sch)
    t = Table.create(f"{wh}/ixh", sch, spark=spark)
    live: dict[int, str] = {}
    hist: dict[int, dict] = {}              # snapshot id -> corpus state

    def append_some(tt=t, state=live):
        take = rng.sample(pool, rng.randint(2, 8))
        fresh = [(i, s) for i, s in take if i not in state]
        if not fresh:
            return False
        tt.append(spark.createDataFrame(fresh, sch))
        state.update(fresh)
        if tt is t:
            hist[t.paths.latest_snapshot_id()] = dict(live)
        return True

    append_some() or append_some()
    t.create_dedup_index(n_buckets=8)
    t.create_text_index(n_buckets=8)

    def check_dedup_parity():
        idx = sorted((r.new_id, r.dup_of, r.src) for r in
                     t.dedup_against_index(new_batch).collect())
        root = t._index_dir("dedup", "text")
        os.rename(root, root + ".aside")
        try:
            fb = sorted((r.new_id, r.dup_of, r.src) for r in
                        t.dedup_against_index(new_batch).collect())
        finally:
            os.rename(root + ".aside", root)
        assert idx == fb, "indexed candidates != index-free fallback"
        # no candidate references a rolled-back/deleted doc
        assert all(b in live for _a, b, s in idx if s == "corpus"), idx

    def check_text_parity():
        got = [(r.doc_id, round(r._score, 6))
               for r in t.full_text_search("data model spark", k=5)
               .collect()]
        exp = [(r.doc_id, round(r._score, 6))
               for r in bm25_search(t.read(), "data model spark", 5,
                                    "text").collect()]
        assert sorted(got) == sorted(exp)

    rolled_over_base = False
    for step in range(12):
        op = rng.choice(["append", "append", "delete", "rollback",
                         "refresh", "refresh"])
        if op == "append":
            append_some()
        elif op == "delete" and live:
            victim = rng.choice(sorted(live))
            t.delete_where(P.eq("doc_id", victim))
            live.pop(victim)
            hist[t.paths.latest_snapshot_id()] = dict(live)
        elif op == "rollback":
            latest = t.paths.latest_snapshot_id()
            targets = [s for s in hist if s < latest]
            if not targets:
                continue
            target = rng.choice(sorted(targets))
            base = (t.dedup_index_meta("text") or {}).get(
                "snapshot_id") or 0
            t.rollback_to(target)
            live.clear()
            live.update(hist[target])
            for s in list(hist):
                if s > target:
                    del hist[s]
            if target < base:
                rolled_over_base = True
        else:
            got = t.refresh_dedup_index()
            t.refresh_text_index()
            if rolled_over_base:
                # the indexed base no longer exists as pinned — id-only
                # freshness would claim fresh/incremental with phantoms
                assert got == "rebuilt", \
                    f"step {step}: {got} after base rollback"
                rolled_over_base = False
            meta = t.dedup_index_meta("text")
            assert meta["snapshot_id"] == t.paths.latest_snapshot_id()
            assert meta.get("snapshot_ts") is not None
        check_dedup_parity()
        check_text_parity()

    # ---- branch isolation: branch index lives in its own dir ----
    t.refresh_dedup_index()
    main_meta = t.dedup_index_meta("text")
    t.create_branch("bx")
    bt = t.branch("bx")
    assert bt.dedup_index_meta("text") is None   # no index on the branch
    b_live = dict(live)
    append_some(bt, b_live)
    bt.create_dedup_index(n_buckets=8)
    assert t.dedup_index_meta("text") == main_meta  # main meta untouched
    bi = sorted((r.new_id, r.dup_of) for r in
                bt.dedup_against_index(new_batch).collect()
                if r.src == "corpus")
    root = bt._index_dir("dedup", "text")
    os.rename(root, root + ".aside")
    try:
        bf = sorted((r.new_id, r.dup_of) for r in
                    bt.dedup_against_index(new_batch).collect()
                    if r.src == "corpus")
    finally:
        os.rename(root + ".aside", root)
    assert bi == bf


def test_index_rollback_id_reuse_regression(spark, wh):
    """The exact id-reuse trap: index refreshed at snapshot N, rollback
    below N, re-commit back past N with DIFFERENT docs. latest id can
    equal the pinned id while the content differs — the index must
    detect the rewrite (timestamp mismatch) instead of serving the
    rolled-back docs as candidates."""
    import time as _time
    sch = T.StructType([T.StructField("doc_id", T.LongType()),
                        T.StructField("text", T.StringType())])
    t = Table.create(f"{wh}/idreuse", sch, spark=spark)
    t.append(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], sch))
    # snapshot 2: a doc that will be ROLLED BACK
    t.append(spark.createDataFrame(
        [(2, "unique phantom sentence that only snapshot two contains")],
        sch))
    t.create_dedup_index(n_buckets=4)        # pins snapshot 2
    assert t.dedup_index_meta("text")["snapshot_id"] == 2
    t.rollback_to(1)
    _time.sleep(0.002)                       # distinct commit timestamp
    # re-commit: id 2 is RE-USED with different content
    t.append(spark.createDataFrame(
        [(3, "completely different replacement document")], sch))
    assert t.paths.latest_snapshot_id() == 2
    # freshness must NOT be claimed; refresh must rebuild, not skip
    assert not t._index_current(t.dedup_index_meta("text"))
    assert t.refresh_dedup_index() == "rebuilt"
    # the phantom doc never appears as a candidate
    probe = spark.createDataFrame(
        [(99, "unique phantom sentence that only snapshot two contains")],
        sch)
    cands = t.dedup_against_index(probe).collect()
    assert all(r.dup_of != 2 for r in cands), cands


def test_vector_index_rollback_id_reuse_regression(spark, wh):
    """Vector-family twin of the dedup id-reuse regression: IVF and
    sign-LSH embedding indexes refreshed at snapshot N must detect a
    rollback that re-used N's id and rebuild rather than serve
    phantom vectors."""
    import math
    import time as _time
    sch = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    v = lambda s: [math.sin(0.1 * j + s) for j in range(16)]  # noqa: E731
    t = Table.create(f"{wh}/vrr", sch, spark=spark)
    t.append(spark.createDataFrame([(1, v(0.0)), (2, v(0.5))], sch))
    t.append(spark.createDataFrame([(3, v(1.0)), (4, v(1.5))], sch))
    t.create_vector_index(n_centroids=2)
    t.create_embedding_dedup_index(n_buckets=4)
    t.rollback_to(1)
    _time.sleep(0.002)
    t.append(spark.createDataFrame([(5, v(2.0)), (6, v(2.5))], sch))
    assert t.refresh_vector_index() == "rebuilt"
    assert t.refresh_embedding_dedup_index() == "rebuilt"
    # post-rebuild search serves only live ids
    got = {r.vec_id for r in
           t.vector_search(v(1.0), k=4, method="ivf").collect()}
    assert got <= {1, 2, 5, 6}, got


def test_index_survives_fast_forward_identity(spark, wh):
    """fast_forward rewrites MAIN's history from a branch (snapshot ids
    re-used with branch content) — the main table's indexes must detect
    the rewrite via (id, ts) and rebuild, never serve the pre-forward
    corpus."""
    import time as _time
    sch = T.StructType([T.StructField("doc_id", T.LongType()),
                        T.StructField("text", T.StringType())])
    t = Table.create(f"{wh}/ffix", sch, spark=spark)
    t.append(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], sch))
    t.create_branch("dev")
    bt = t.branch("dev")
    # main and branch histories diverge at snapshot 2
    t.append(spark.createDataFrame(
        [(2, "main only phantom sentence about volcanos")], sch))
    t.create_dedup_index(n_buckets=4)          # pins main snapshot 2
    _time.sleep(0.002)
    bt.append(spark.createDataFrame(
        [(3, "branch replacement document about oceans")], sch))
    t.fast_forward("dev")                      # main now = branch history
    assert not t._index_current(t.dedup_index_meta("text"))
    assert t.refresh_dedup_index() == "rebuilt"
    probe = spark.createDataFrame(
        [(99, "main only phantom sentence about volcanos")], sch)
    cands = t.dedup_against_index(probe).collect()
    assert all(r.dup_of != 2 for r in cands), cands


def test_postpone_rollback_discards_pending(spark, wh):
    """Rollback on a postpone table (bucket=-2) must discard pending
    (-2 bucket) writes with the snapshots that carried them: a compact
    AFTER the rollback replays only the surviving op log."""
    t = Table.create(f"{wh}/pprb", SCH, primary_keys=["k"],
                     options={"bucket": "-2",
                              "postpone.default-bucket-num": "2"},
                     spark=spark)
    t.append(spark.createDataFrame([(1, 10), (2, 20)], SCH))   # s1 pending
    t.compact()                                    # s2: visible {1,2}
    t.append(spark.createDataFrame([(1, 99), (3, 30)], SCH))   # s3 pending
    t.rollback_to(2)
    t.compact()
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, 10), (2, 20)], got
    # rollback INTO a pending-only state: nothing visible until compact
    t.append(spark.createDataFrame([(4, 40)], SCH))
    t.rollback_to(1)
    assert t.read().count() == 0
    t.compact()
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, 10), (2, 20)], got


def test_randomized_mirror_imv_staleness_model(spark, wh):
    """VERDICT r10 #7: create_bucketed_mirror and incremental
    materialized views persist DERIVED state keyed to a base snapshot;
    this model races them against writes, deletes, ROLLBACK and forced
    snapshot EXPIRATION. Invariants after every step:

    - base read ≡ model state (sanity);
    - mirror CONTENT ≡ the model state captured at mirror creation,
      no matter what happened to the base since (a mirror is a pinned
      copy, never silently refreshed);
    - mirror `fresh` flag ≡ (the mirror's (snapshot id, timestamp)
      still IS the base's latest) — rollback BACK TO the mirrored
      snapshot makes it fresh again, rollback past it with id-reuse
      must NOT (timestamp identity);
    - IMV read ≡ sum/count over the model state as of its last
      successful refresh; a refresh either lands on the CURRENT model
      state (incremental fold, rollback re-seed, or expired-fold-base
      re-seed) or REFUSES leaving the view unchanged — never a
      silently wrong fold. The expired-fold-base re-seed is pinned
      deterministically at the end (fold up to snapshot N, expire past
      N, refresh must land on the live state, not raise)."""
    import random
    import time as _time

    from paimon_spark.catalog import Catalog
    from paimon_spark.procedures import expire_snapshots

    rng = random.Random(57)
    cat = Catalog(f"{wh}/mimv", spark)
    bt = cat.create_table(
        "base", SCH, primary_keys=["k"],
        options={"bucket": "2", "changelog-producer": "lookup",
                 # generous retention so only FORCED expiration prunes
                 "snapshot.num-retained.min": "40",
                 "snapshot.num-retained.max": "40"})

    state: dict[int, int] = {}
    snap_states: dict[int, dict[int, int]] = {}

    def commit_write():
        rows = [(rng.randrange(0, 30), rng.randrange(0, 1000))
                for _ in range(rng.randrange(3, 9))]
        bt.append(spark.createDataFrame(rows, SCH))
        for k, v in rows:
            state[k] = v                   # last row wins within batch
        # within-batch duplicate keys: engine keeps max sequence = the
        # later row; createDataFrame preserves row order per partition,
        # replay in order is the same rule
        snap_states[bt.paths.latest_snapshot_id()] = dict(state)

    def commit_delete():
        m = rng.randrange(0, 5)
        bt.delete_where(P.expr(f"k % 5 = {m}"))
        for k in [k for k in state if k % 5 == m]:
            del state[k]
        snap_states[bt.paths.latest_snapshot_id()] = dict(state)

    commit_write()
    mirror = None                          # (name, frozen_state, sid)
    imv = None                             # folded model state
    imv_n = 0

    def check():
        got = {r.k: r.v for r in bt.read().collect()}
        assert got == state, (got, state)
        if mirror is not None:
            name, frozen, msid = mirror
            mgot = {r.k: r.v for r in spark.table(name).collect()}
            assert mgot == frozen, (mgot, frozen)
            meta = bt.bucketed_mirror_meta(name)
            latest = bt.paths.latest_snapshot_id()
            want_fresh = (msid == latest
                          and meta["snapshot_ts"] ==
                          bt.paths.read_snapshot(latest).timestamp_ms)
            assert meta["fresh"] == want_fresh, (meta, latest)
        if imv is not None:
            vt = cat.get_table("imv")
            vgot = {r.k: (r.total, r.cnt) for r in vt.read().collect()}
            assert vgot == imv, (vgot, imv)

    def model_fold(st):
        out: dict[int, tuple[int, int]] = {}
        for k, v in st.items():
            out[k] = (v, 1)                # PK base: one row per key
        return out

    for step in range(24):
        op = rng.choice(["write", "write", "delete", "mirror",
                         "imv_refresh", "rollback", "expire"])
        if op == "write":
            commit_write()
        elif op == "delete":
            commit_delete()
        elif op == "mirror":
            name = bt.create_bucketed_mirror(name=f"m_{step}")
            mirror = (name, dict(state), bt.paths.latest_snapshot_id())
        elif op == "imv_refresh":
            if imv is None:
                cat.create_incremental_materialized_view(
                    "imv", "base", ["k"],
                    {"total": ("v", "sum"), "cnt": ("v", "count")})
                imv = model_fold(state)
            else:
                try:
                    cat.refresh_incremental_materialized_view("imv")
                    imv = model_fold(state)
                except Exception:
                    pass                   # refusal: view must be as-is
        elif op == "rollback":
            live = [s for s in snap_states
                    if bt.paths.earliest_snapshot_id() <= s
                    <= bt.paths.latest_snapshot_id()]
            if len(live) < 2:
                continue
            target = rng.choice(sorted(live)[:-1])
            bt.rollback_to(target)
            state.clear()
            state.update(snap_states[target])
            for s in [s for s in snap_states if s > target]:
                del snap_states[s]
            _time.sleep(0.002)             # next reused id gets a new ts
        elif op == "expire":
            latest = bt.paths.latest_snapshot_id()
            earliest = bt.paths.earliest_snapshot_id()
            if latest - earliest < 3:
                continue
            expire_snapshots(spark, bt, retain_last=2)
            for s in [s for s in snap_states if s <= latest - 2]:
                del snap_states[s]
        check()

    # deterministic expired-fold-base scenario: the random walk rarely
    # lines up expire past the IMV's fold point — force it. The fold
    # base's manifests are gone, so the incremental delta is
    # underivable; refresh must FULL-RESEED to the live state.
    if imv is None:
        cat.create_incremental_materialized_view(
            "imv", "base", ["k"],
            {"total": ("v", "sum"), "cnt": ("v", "count")})
        imv = model_fold(state)
    else:
        try:
            cat.refresh_incremental_materialized_view("imv")
            imv = model_fold(state)
        except Exception:
            pass
    commit_write()
    commit_write()
    commit_write()
    expire_snapshots(spark, bt, retain_last=1)
    vt = cat.get_table("imv")
    folded = int(vt.schema.options["imv.base-snapshot"])
    assert folded < bt.paths.earliest_snapshot_id()   # fold base expired
    cat.refresh_incremental_materialized_view("imv")
    vgot = {r.k: (r.total, r.cnt)
            for r in cat.get_table("imv").read().collect()}
    assert vgot == model_fold(state), (vgot, model_fold(state))
    # sidecar GC: no changelog-key dirs below the earliest snapshot
    import os as _os
    d = _os.path.join(bt.paths.meta_root, "changelog-keys")
    if _os.path.isdir(d):
        left = sorted(int(n.split("-")[1]) for n in _os.listdir(d))
        assert all(s >= bt.paths.earliest_snapshot_id() for s in left)


def test_concurrent_writers_with_changelog_producer(spark, wh):
    """Commit races × the lookup producer: each post-commit hook writes
    its own snapshot-keyed rows/keys sidecars, so concurrent writers
    can't collide; every snapshot ends up with both sidecars and the
    collapsed windowed changelog still equals the unoptimized diff.
    (A hook failure would only downgrade that snapshot's window to the
    fallback tier — also exercised by deleting one rows dir.)"""
    import os
    import random
    import shutil as _sh
    from concurrent.futures import ThreadPoolExecutor

    from paimon_spark.operators.changelog import derive_changelog
    rng = random.Random(77)
    t = Table.create(f"{wh}/conc_cl", SCH, primary_keys=["k"],
                     options={"bucket": "2",
                              "changelog-producer": "lookup"},
                     spark=spark)
    t.append(spark.createDataFrame([(k, 0) for k in range(10)], SCH))
    batches = [[{rng.randint(0, 12): rng.randint(0, 999)
                 for _ in range(rng.randint(1, 4))} for _ in range(2)]
               for _ in range(3)]

    def writer(i):
        tt = Table.load(t.path, spark)
        for rows in batches[i]:
            tt.append(spark.createDataFrame(list(rows.items()), SCH))

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(writer, i) for i in range(3)]:
            f.result()

    latest = t.paths.latest_snapshot_id()
    assert latest == 7
    rows_dir = os.path.join(t.paths.meta_root, "changelog-rows")
    keys_dir = os.path.join(t.paths.meta_root, "changelog-keys")
    assert sorted(int(n.split("-")[1]) for n in os.listdir(rows_dir)) \
        == list(range(1, 8))
    assert sorted(int(n.split("-")[1]) for n in os.listdir(keys_dir)) \
        == list(range(1, 8))

    def canon(optimize):
        return sorted((r.k, r.v, r._row_kind) for r in derive_changelog(
            t, 1, optimize=optimize).collect())

    t._read_cache.clear()
    assert canon(True) == canon(False)
    # losing one snapshot's rows dir downgrades gracefully (keys tier)
    victim = sorted(os.listdir(rows_dir))[2]
    _sh.rmtree(os.path.join(rows_dir, victim))
    t._read_cache.clear()
    assert canon(True) == canon(False)


def test_index_refresh_commit_race_token_capture(spark, wh):
    """r12 (VERDICT r11 #8, index generations racing commits): a commit
    landing DURING a refresh must leave the persisted pin stale — never
    falsely fresh (rows skipped forever), never double-appended by the
    next refresh. The refresher captures its snapshot token BEFORE
    computing the delta and bounds the delta walk at it; the racing
    commit is picked up by the NEXT refresh exactly once."""
    import pyspark.sql.functions as F

    t = Table.create(f"{wh}/race_idx", T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType())]), spark=spark)

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"document number {i} with shared tokens") for i
             in range(lo, hi)], t.schema.struct)

    t.append(batch(0, 40))                            # s1
    t.create_text_index("text", n_buckets=4)
    t.create_dedup_index("text", n_buckets=4)
    t.append(batch(40, 60))                           # s2

    # inject a commit BETWEEN the refresh's delta computation and its
    # meta write (the TOCTOU window): wrap _index_delta so the racing
    # append lands after the bounded delta is constructed
    orig = t._index_delta
    raced = {"n": 0}

    def racing_delta(*a, **k):
        d = orig(*a, **k)
        if raced["n"] < 2:                            # once per index
            raced["n"] += 1
            t.append(batch(60 + 10 * raced["n"],
                           70 + 10 * raced["n"]))     # s3 / s4
        return d

    t._index_delta = racing_delta
    try:
        assert t.refresh_text_index("text") == "incremental"
        assert t.refresh_dedup_index("text") == "incremental"
    finally:
        t._index_delta = orig

    # the pin must NOT claim the racing commits
    tmeta = t.text_index_meta("text")
    dmeta = t.dedup_index_meta("text")
    assert tmeta["snapshot_id"] == 2, tmeta["snapshot_id"]
    assert dmeta["snapshot_id"] in (2, 3)             # raced s3 landed first
    assert not t._index_current(tmeta)
    # next refresh picks the raced commits up...
    assert t.refresh_text_index("text") == "incremental"
    assert t.refresh_dedup_index("text") == "incremental"
    assert t._index_current(t.text_index_meta("text"))
    assert t._index_current(t.dedup_index_meta("text"))

    # ...exactly once: postings multiset == a from-scratch rebuild
    out = t._index_dir("fulltext", "text")
    got = sorted((r.id, r.term, r.tf) for r in
                 spark.read.parquet(out).select("id", "term", "tf")
                 .collect())
    t.create_text_index("text", n_buckets=4)
    want = sorted((r.id, r.term, r.tf) for r in
                  spark.read.parquet(out).select("id", "term", "tf")
                  .collect())
    assert got == want
    dout = t._index_dir("dedup", "text")
    gotd = sorted((r.id, r.bk) for r in
                  spark.read.parquet(dout).select("id", "bk").collect())
    t.create_dedup_index("text", n_buckets=4)
    wantd = sorted((r.id, r.bk) for r in
                   spark.read.parquet(dout).select("id", "bk").collect())
    assert gotd == wantd


def test_stream_view_sync_commit_race_bound(spark, wh):
    """r12: _sync_live_view pins exactly the snapshot its walk linked —
    a commit racing the walk must stay unsynced (picked up by the next
    sync), not be claimed by a re-read token with its files never
    linked (permanent row loss in the view)."""
    import os

    t = Table.create(f"{wh}/race_view", SCH, spark=spark)
    t.append(spark.createDataFrame([(1, 1), (2, 2)], SCH))   # s1
    t.create_stream_view()

    # suppress the writer's own post-commit view sync so the manual
    # sync below has a real walk to race against (external writers on
    # another host are exactly this shape: commits land without this
    # process's sync running)
    t.has_stream_view = lambda: False
    t.append(spark.createDataFrame([(3, 3)], SCH))           # s2
    orig = t.delta_entries
    raced = {"done": False}

    def racing_entries(a, b):
        ents = orig(a, b)
        if not raced["done"]:
            raced["done"] = True
            t2 = Table.load(t.path, spark)      # independent writer
            t2.has_stream_view = lambda: False
            t2.append(spark.createDataFrame([(4, 4)], SCH))  # s3 mid-walk
        return ents

    t.delta_entries = racing_entries
    try:
        t._sync_live_view()
    finally:
        t.delta_entries = orig
        del t.has_stream_view               # restore class method
    assert raced["done"], "race never fired"
    import json as _json
    with open(t._live_view_meta_path()) as f:
        meta = _json.load(f)
    # the pin claims exactly the walked snapshot — NOT the racing
    # commit (a re-read token would claim s3 with its files unlinked:
    # permanent row loss)
    assert meta["snapshot_id"] == 2, meta
    t._sync_live_view()                          # next sync links it
    base = os.path.join(t.path, t._LIVE_VIEW)
    got = sorted((r.k, r.v) for r in
                 spark.read.parquet(base).collect())
    assert got == [(1, 1), (2, 2), (3, 3), (4, 4)]


def test_concurrent_writers_racing_index_refresh_stress(spark, wh):
    """r12 (VERDICT r11 #8, the literal ask): writer threads appending
    WHILE another thread loops refresh_text_index/refresh_dedup_index.
    Whatever interleaving the scheduler produces, the invariants must
    hold: every refresh returns a legal verdict, a pinned-fresh meta
    implies the index covers exactly the pinned snapshot, and after the
    writers stop a refresh-until-fresh index equals a from-scratch
    rebuild (no missing rows, no duplicates)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyspark.sql.functions as F

    t = Table.create(f"{wh}/stress_idx", T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType())]), spark=spark)

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"stress document {i} shared tokens alpha beta")
             for i in range(lo, hi)], t.schema.struct)

    t.append(batch(0, 30))
    t.create_text_index("text", n_buckets=4)
    t.create_dedup_index("text", n_buckets=4)

    verdicts: list[str] = []
    stop = {"flag": False}

    def writer(w):
        # disjoint id ranges per writer: the text/dedup indexes key
        # postings by doc id, so ids must be unique corpus-wide (same
        # contract as the documents table's pk — duplicate ids make
        # per-id tf ill-defined for ANY indexer)
        tt = Table.load(t.path, spark)
        for j in range(4):
            lo = 1000 * (w + 1) + 50 * j
            tt.append(batch(lo, lo + 20))

    def refresher():
        while not stop["flag"]:
            verdicts.append(t.refresh_text_index("text"))
            verdicts.append(t.refresh_dedup_index("text"))

    with ThreadPoolExecutor(max_workers=3) as pool:
        fw = [pool.submit(writer, 0), pool.submit(writer, 1)]
        fr = pool.submit(refresher)
        for f in fw:
            f.result()
        stop["flag"] = True
        fr.result()

    assert verdicts and set(verdicts) <= {"fresh", "incremental",
                                          "rebuilt"}
    # drain to fresh, then compare against a from-scratch rebuild
    while t.refresh_text_index("text") != "fresh":
        pass
    while t.refresh_dedup_index("text") != "fresh":
        pass
    out = t._index_dir("fulltext", "text")
    got = sorted((r.id, r.term, r.tf) for r in
                 spark.read.parquet(out).select("id", "term", "tf")
                 .collect())
    t.create_text_index("text", n_buckets=4)
    want = sorted((r.id, r.term, r.tf) for r in
                  spark.read.parquet(out).select("id", "term", "tf")
                  .collect())
    assert got == want
    dout = t._index_dir("dedup", "text")
    gotd = sorted((r.id, r.bk) for r in
                  spark.read.parquet(dout).select("id", "bk").collect())
    t.create_dedup_index("text", n_buckets=4)
    wantd = sorted((r.id, r.bk) for r in
                   spark.read.parquet(dout).select("id", "bk").collect())
    assert gotd == wantd


def test_commit_time_changelog_equals_full_diff_model(spark, wh):
    """The lookup producer's commit-time changelog rows equal the
    unoptimized diff of the two merged states, derive_changelog(t, s-1,
    s, optimize=False), on every data commit of a seeded random
    sequence — on a partitioned fixed-bucket table and an unpartitioned
    dynamic-bucket one, both with rowkind.field deletes and a
    sequence.field. The sequence mixes upserts with: two writers that
    stage before either commits (equal sequences, so the stable file tie
    decides the winner), an add_column between commits, a
    deletion-vector delete, and an INSERT OVERWRITE."""
    import os
    import random

    from paimon_spark.operators.changelog import _rows_dir, derive_changelog
    base = [T.StructField("pt", T.IntegerType()),
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("rk", T.StringType())]
    opts = {"changelog-producer": "lookup", "rowkind.field": "rk",
            "sequence.field": "ts"}
    tables = [
        Table.create(f"{wh}/cl_diff_part", T.StructType(base),
                     primary_keys=["pt", "k"], partition_keys=["pt"],
                     options={**opts, "bucket": "2",
                              "deletion-vectors.enabled": "true"},
                     spark=spark),
        Table.create(f"{wh}/cl_diff_dyn", T.StructType(base),
                     primary_keys=["k"],
                     options={**opts, "bucket": "-1",
                              "dynamic-bucket.target-row-count": "8"},
                     spark=spark),
    ]
    for n, t in enumerate(tables):
        rng = random.Random(41 + n)
        ts = [0]

        def batch(keys, v=None, deletes=True, seq=None):
            fields = t.schema.field_names
            rows = []
            for k in keys:
                ts[0] += rng.randint(0, 2)         # repeats: equal ts
                r = {"pt": k % 3, "k": k,
                     "v": rng.randint(0, 99) if v is None else v,
                     # some stale
                     "ts": ts[0] - rng.randint(0, 3) if seq is None
                     else seq,
                     "rk": "-D" if deletes and rng.random() < 0.2
                     else "+I", "extra": rng.randint(0, 9)}
                rows.append(tuple(r[f] for f in fields))
            return spark.createDataFrame(rows, t.schema.struct)

        def check():
            snap = t.paths.latest_snapshot()
            cols = t.schema.field_names + ["_row_kind"]
            got = sorted(tuple(r) for r in spark.read.parquet(
                _rows_dir(t.paths, snap)).select(*cols).collect())
            t._read_cache.clear()
            want = sorted(tuple(r) for r in derive_changelog(
                t, snap.id - 1, snap.id, optimize=False)
                .select(*cols).collect())
            assert got == want, (t.path, snap.id)

        t.append(batch(range(24), deletes=False))
        steps = ["upsert"] * 3 + ["concurrent", "add_column",
                                  "overwrite"]
        if n == 0:
            steps.append("dv")
        rng.shuffle(steps)
        for step in steps:
            if step == "upsert":
                t.append(batch(rng.sample(range(30), 6)))
            elif step == "concurrent":
                # both writers stage against the same latest snapshot:
                # equal sequences for the keys they share
                keys = rng.sample(range(24), 4)
                w1, w2 = t.writer(), t.writer()
                seq = ts[0] + 5
                e1 = w1.stage(batch(keys, 1000, False, seq))
                e2 = w2.stage(batch(keys, 2000, False, seq))
                w1.commit(e1)
                check()
                w2.commit(e2)
            elif step == "add_column":
                t.alter(lambda sc: sc.add_column("extra", T.LongType()))
                t.append(batch(rng.sample(range(30), 5)))
            elif step == "overwrite":
                t.overwrite(batch(rng.sample(range(30), 8),
                                  deletes=False))
            else:
                victim = rng.choice(sorted(r.k for r in t.read()
                                           .select("k").collect()))
                pred = P.eq("k", victim)
                t._delete_with_dv(t.new_scan().plan(pred).entries, pred)
                assert any(e.dv_path for e in t.paths.live_entries(
                    t.paths.latest_snapshot()))
            check()
        assert os.path.isdir(os.path.join(t.paths.meta_root,
                                          "changelog-rows"))
