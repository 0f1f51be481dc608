"""Persisted inverted text index: term-bucketed posting lists with
partition pruning; index path == exact index-free BM25 path.

(ref shape: paimon-full-text/.../NativeFullTextGlobalIndexer.java; the
repo's persisted-IVF vector index follows the same contract.)"""

import os

import pytest
from pyspark.sql import types as T

from paimon_spark import Table

SCH = T.StructType([T.StructField("id", T.LongType()),
                    T.StructField("text", T.StringType())])

DOCS = [
    (1, "spark engine for big data processing"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "spark spark spark streaming engine"),
    (4, "a persisted inverted index for text search"),
    (5, "quick data engine"),
    (6, "completely unrelated content about cats"),
]


@pytest.fixture()
def docs_table(spark, wh):
    t = Table.create(f"{wh}/docs", SCH, spark=spark)
    t.append(spark.createDataFrame(DOCS, SCH))
    return t


def _ranked(df):
    return [(r.id, round(r._score, 9)) for r in df.collect()]


def test_index_path_equals_exact_path(spark, docs_table):
    t = docs_table
    exact = _ranked(t.full_text_search("spark engine", k=6))
    assert t.text_index_meta() is None          # no index yet → exact
    t.create_text_index(n_buckets=8)
    assert t.text_index_meta()["n_docs"] == 6
    indexed = _ranked(t.full_text_search("spark engine", k=6))
    assert sorted(indexed) == sorted(exact)
    # scores must rank doc 3 (3x spark) and 1/5 (engine+one term) high
    assert indexed[0][0] == 3


def test_index_prunes_to_query_term_buckets(spark, docs_table):
    t = docs_table
    t.create_text_index(n_buckets=16)
    idx_dir = t._index_dir("fulltext", "text")
    n_parts = len([d for d in os.listdir(idx_dir)
                   if d.startswith("bucket=")])
    assert n_parts > 2                          # enough spread to prune
    # the posting-list scan must carry a partition filter on bucket
    import contextlib
    import io
    df = t.full_text_search("spark", k=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert "bucket" in buf.getvalue()
    # behavioral proof: corrupt every bucket EXCEPT the query term's —
    # if the search still succeeds, no other partition was read
    bucket = Table._term_bucket("spark", 16)
    for d in os.listdir(idx_dir):
        if d.startswith("bucket=") and d != f"bucket={bucket}":
            for fn in os.listdir(os.path.join(idx_dir, d)):
                if fn.endswith(".parquet"):
                    with open(os.path.join(idx_dir, d, fn), "wb") as f:
                        f.write(b"not parquet")
    got = t.full_text_search("spark", k=3).collect()
    assert {r.id for r in got} == {1, 3}


def test_stale_index_falls_back_to_exact(spark, docs_table):
    t = docs_table
    t.create_text_index(n_buckets=8)
    t.append(t.spark.createDataFrame(
        [(7, "fresh spark doc after the index build")], SCH))
    got = t.full_text_search("fresh spark", k=3)
    assert 7 in {r.id for r in got.collect()}   # stale index NOT used
    # rebuilding re-enables the index path and sees the new doc
    t.create_text_index(n_buckets=8)
    assert t.text_index_meta()["snapshot_id"] == \
        t.paths.latest_snapshot_id()
    got2 = {r.id for r in t.full_text_search("fresh spark", k=3).collect()}
    assert 7 in got2


def test_multi_term_df_and_missing_terms(spark, docs_table):
    t = docs_table
    t.create_text_index(n_buckets=8)
    exact = _ranked(t.full_text_search("quick zebra data", k=6))
    t.drop_text_index()
    rebuilt = _ranked(t.full_text_search("quick zebra data", k=6))
    assert sorted(exact) == sorted(rebuilt)


def test_text_index_via_procedure(spark, wh, docs_table):
    """CALL sys.create_text_index / drop_text_index surface."""
    from paimon_spark.procedures import call
    t = docs_table
    call(spark, "create_text_index", table=t.path, n_buckets=8)
    assert t.text_index_meta() is not None
    exact_vs_index = t.full_text_search("spark engine", k=6)
    assert exact_vs_index.count() > 0
    call(spark, "drop_text_index", table=t.path)
    assert t.text_index_meta() is None


def test_incremental_refresh_appends_only_delta(spark, docs_table):
    """r5 verdict #6: after N append commits, refresh_text_index brings
    the index fresh WITHOUT a full rebuild — only delta postings are
    written — and the refreshed index path equals the exact scorer."""
    t = docs_table
    t.create_text_index(n_buckets=8)
    idx_dir = t._index_dir("fulltext", "text")
    files_before = {f for _r, _d, fs in os.walk(idx_dir) for f in fs
                    if f.endswith(".parquet")}
    t.append(spark.createDataFrame(
        [(7, "spark index refresh incremental engine"),
         (8, "another quick document about data")], SCH))
    t.append(spark.createDataFrame(
        [(9, "spark spark quick zebra")], SCH))
    assert t.text_index_meta()["snapshot_id"] != t.paths.latest_snapshot_id()
    assert t.refresh_text_index() == "incremental"
    meta = t.text_index_meta()
    assert meta["snapshot_id"] == t.paths.latest_snapshot_id()
    assert meta["n_docs"] == 9
    # original posting files untouched (delta-append, not rebuild)
    files_after = {f for _r, _d, fs in os.walk(idx_dir) for f in fs
                   if f.endswith(".parquet")}
    assert files_before <= files_after and len(files_after) > len(files_before)
    # index path == exact scorer on the enlarged corpus
    got = _ranked(t.full_text_search("spark quick", k=9))
    t.drop_text_index()
    exact = _ranked(t.full_text_search("spark quick", k=9))
    assert sorted(got) == sorted(exact)
    # idempotent: already fresh
    t.create_text_index(n_buckets=8)
    assert t.refresh_text_index() == "fresh"


def test_refresh_rebuilds_on_non_append_history(spark, docs_table):
    """A delete commit can't be expressed as posting appends — refresh
    must fall back to a full rebuild and stay correct."""
    from paimon_spark import P
    t = docs_table
    t.create_text_index(n_buckets=8)
    t.append(spark.createDataFrame([(7, "spark delta doc")], SCH))
    t.delete_where(P.eq("id", 3))
    assert t.refresh_text_index() == "rebuilt"
    meta = t.text_index_meta()
    assert meta["snapshot_id"] == t.paths.latest_snapshot_id()
    assert meta["n_docs"] == 6            # 6 + 1 - 1
    got = _ranked(t.full_text_search("spark", k=9))
    assert all(i != 3 for i, _s in got)
    t.drop_text_index()
    exact = _ranked(t.full_text_search("spark", k=9))
    assert sorted(got) == sorted(exact)


def test_vector_index_incremental_refresh(spark, wh):
    """IVF incremental add: delta vectors assign to the EXISTING
    centroids and append to the inverted lists; centroids unchanged."""
    import random
    sch = T.StructType([T.StructField("vid", T.LongType()),
                        T.StructField("embedding",
                                      T.ArrayType(T.DoubleType()))])
    rnd = random.Random(5)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(100)]
    t = Table.create(f"{wh}/vinc", sch, spark=spark)
    t.append(spark.createDataFrame(rows, sch))
    t.create_vector_index("embedding", id_col="vid", n_centroids=4)
    cents_before = t.vector_index_meta("embedding")["centroids"]
    new = (100, [x + 0.01 for x in rows[42][1]])
    t.append(spark.createDataFrame([new], sch))
    assert t.refresh_vector_index("embedding") == "incremental"
    meta = t.vector_index_meta("embedding")
    assert meta["snapshot_id"] == t.paths.latest_snapshot_id()
    assert meta["centroids"] == cents_before
    # the fresh index serves the new row (no stale fallback)
    got = [r.vid for r in t.vector_search(new[1], k=2,
                                          method="ivf").collect()]
    assert set(got) == {100, 42}
    from paimon_spark.procedures import call
    assert call(spark, "refresh_global_index", table=t.path,
                vec_col="embedding") == "fresh"


def test_refresh_crash_between_append_and_meta_is_safe(spark, docs_table):
    """Crash AFTER the delta-postings append but BEFORE the meta update
    must not corrupt the index: searches only scan meta-pinned files, so
    the orphan files are invisible, and the retried refresh re-appends
    the delta without double-counting."""
    t = docs_table
    t.create_text_index(n_buckets=8)
    t.append(spark.createDataFrame(
        [(7, "spark crash safety doc"), (8, "quick spark data")], SCH))

    # simulate the crash: run the refresh with the meta write disabled
    real_write = type(t)._write_index_meta
    import pytest as _pytest
    boom = RuntimeError("crash before meta write")
    try:
        type(t)._write_index_meta = staticmethod(
            lambda root, meta: (_ for _ in ()).throw(boom))
        with _pytest.raises(RuntimeError, match="crash"):
            t.refresh_text_index()
    finally:
        type(t)._write_index_meta = staticmethod(real_write)
    # orphan parquet files exist but the pinned view ignores them:
    meta = t.text_index_meta()
    orphans = set(t._index_files(t._index_dir("fulltext", "text"))) \
        - set(meta["files"])
    assert orphans
    assert meta["snapshot_id"] != t.paths.latest_snapshot_id()
    # stale index -> exact fallback stays correct meanwhile
    pre = _ranked(t.full_text_search("spark", k=9))
    # retried refresh completes; no duplicated postings
    assert t.refresh_text_index() == "incremental"
    got = _ranked(t.full_text_search("spark", k=9))
    assert sorted(got) == sorted(pre)
    t.drop_text_index()
    exact = _ranked(t.full_text_search("spark", k=9))
    assert sorted(got) == sorted(exact)


PKSCH = T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("text", T.StringType())])


def _pk_corpus(spark, wh, name, n=100):
    t = Table.create(f"{wh}/{name}", PKSCH, primary_keys=["id"],
                     options={"bucket": "2"}, spark=spark)
    rows = [(i, f"common token{i} filler words here") for i in range(n)]
    t.append(spark.createDataFrame(rows, PKSCH))
    return t


def test_pk_text_index_retraction_no_rebuild(spark, wh):
    """Upsert+delete on an indexed PK table refresh INCREMENTALLY:
    changed keys' old postings are tombstoned (generation retraction),
    new versions appended — original posting files stay pinned, no
    rebuild (ref: the reference maintains global indexes through PK
    churn, paimon-core/.../globalindex/, NativeFullTextGlobalIndexer)."""
    from paimon_spark import P
    t = _pk_corpus(spark, wh, "pkidx")
    t.create_text_index(n_buckets=8)
    files0 = set(t.text_index_meta()["files"])
    # churn: 3 updates (new distinctive term), 2 deletes
    t.append(spark.createDataFrame(
        [(7, "updated zebra content"), (8, "updated zebra content"),
         (9, "updated zebra content")], PKSCH))
    t.delete_where(P.eq("id", 50))
    t.delete_where(P.eq("id", 51))
    assert t.refresh_text_index() == "incremental"
    meta = t.text_index_meta()
    # rebuild avoided: every original posting file is still pinned
    assert files0 <= set(meta["files"])
    assert meta["retraction_files"]
    assert meta["generation"] == 1
    assert meta["retracted"] == 5
    assert meta["n_docs"] == 98
    assert meta["snapshot_id"] == t.paths.latest_snapshot_id()
    # new term hits the updated docs through the INDEXED path
    got = _ranked(t.full_text_search("zebra", k=10))
    assert {i for i, _ in got} == {7, 8, 9}
    # old content of updated/deleted keys is voided
    got7 = _ranked(t.full_text_search("token7", k=10))
    assert all(i != 7 for i, _ in got7)
    got50 = _ranked(t.full_text_search("token50", k=10))
    assert all(i != 50 for i, _ in got50)
    # indexed path == exact path over the post-churn snapshot
    indexed = _ranked(t.full_text_search("common", k=100))
    t.drop_text_index()
    exact = _ranked(t.full_text_search("common", k=100))
    assert sorted(indexed) == sorted(exact)
    assert len(indexed) == 95   # 100 - 2 deleted - 3 updated away


def test_pk_text_index_retraction_threshold_rebuilds(spark, wh):
    """Tombstones past the rebuild fraction compact via full rebuild
    (LSM tombstone GC analog): query-side join cost stays bounded."""
    t = _pk_corpus(spark, wh, "pkidx2", n=20)
    t.create_text_index(n_buckets=8)
    t.append(spark.createDataFrame(
        [(i, "mass rewrite") for i in range(10)], PKSCH))   # 50% churn
    assert t.refresh_text_index() == "rebuilt"
    meta = t.text_index_meta()
    assert meta["retracted"] == 0 and not meta["retraction_files"]
    got = _ranked(t.full_text_search("rewrite", k=20))
    assert len(got) == 10


def test_pk_vector_index_retraction_no_rebuild(spark, wh):
    """Same generational scheme for the IVF index: updated/deleted keys'
    old list entries are voided at query time, new assignments append."""
    import random
    from paimon_spark import P
    sch = T.StructType([T.StructField("vid", T.LongType()),
                        T.StructField("embedding",
                                      T.ArrayType(T.DoubleType()))])
    rnd = random.Random(11)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(100)]
    t = Table.create(f"{wh}/pkvec", sch, primary_keys=["vid"],
                     options={"bucket": "2"}, spark=spark)
    t.append(spark.createDataFrame(rows, sch))
    t.create_vector_index("embedding", id_col="vid", n_centroids=4)
    meta0 = t.vector_index_meta("embedding")
    files0 = set(meta0["files"])
    # move vid=5 next to vid=42's vector; delete vid=42
    moved = [x + 0.001 for x in rows[42][1]]
    t.append(spark.createDataFrame([(5, moved)], sch))
    t.delete_where(P.eq("vid", 42))
    spark.catalog.clearCache()
    assert t.refresh_vector_index("embedding") == "incremental"
    # the persisted changelog is released on the incremental path too
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    meta = t.vector_index_meta("embedding")
    assert files0 <= set(meta["files"])
    assert meta["retraction_files"] and meta["generation"] == 1
    assert meta["centroids"] == meta0["centroids"]
    assert meta["n_rows"] == 99
    got = [r.vid for r in t.vector_search(moved, k=1,
                                          method="ivf").collect()]
    assert got == [5]          # new position found, deleted 42 voided
    # index path == exact path post-churn
    exact = [r.vid for r in t.vector_search(moved, k=3,
                                            method="brute").collect()]
    idx = [r.vid for r in t.vector_search(moved, k=3,
                                          method="ivf").collect()]
    assert 42 not in exact and 42 not in idx and idx[0] == exact[0] == 5


def test_vector_refresh_crash_with_pq_is_safe(spark, wh):
    """Same crash-safety contract for the PQ vector index: a refresh
    that dies after the codes append but before the meta update leaves
    orphan files invisible to searches (meta-pinned file list), and the
    retried refresh completes without double-counting entries."""
    import random
    sch = T.StructType([T.StructField("vid", T.LongType()),
                        T.StructField("embedding",
                                      T.ArrayType(T.DoubleType()))])
    rnd = random.Random(61)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(150)]
    t = Table.create(f"{wh}/vcrash", sch,
                     options={"vector-index.pq.m": "2",
                              "vector-index.pq.codes": "16"}, spark=spark)
    t.append(spark.createDataFrame(rows, sch))
    t.create_vector_index("embedding", id_col="vid", n_centroids=4)
    t.append(spark.createDataFrame(
        [(150, [x + 0.01 for x in rows[9][1]])], sch))

    real_write = type(t)._write_index_meta
    import pytest as _pytest
    boom = RuntimeError("crash before meta write")
    try:
        type(t)._write_index_meta = staticmethod(
            lambda root, meta: (_ for _ in ()).throw(boom))
        with _pytest.raises(RuntimeError, match="crash"):
            t.refresh_vector_index("embedding")
    finally:
        type(t)._write_index_meta = staticmethod(real_write)
    meta = t.vector_index_meta("embedding")
    orphans = set(t._index_files(t._index_dir("vector", "embedding"))) \
        - set(meta["files"])
    assert orphans
    # stale index -> exact fallback stays correct meanwhile
    q = rows[9][1]
    pre = [r.vid for r in t.vector_search(q, k=2, method="ivf").collect()]
    assert set(pre) == {9, 150}
    assert t.refresh_vector_index("embedding") == "incremental"
    got = [r.vid for r in
           t.vector_search(q, k=2, method="ivf", nprobe=4).collect()]
    assert set(got) == {9, 150} and len(got) == 2


def test_dedup_index_incremental(spark, wh, tmp_path):
    """Persisted MinHash-LSH band index (r9): create → delta refresh →
    bucket-pruned incremental dedup of a new batch; a dropped/stale
    index falls back to banding the corpus on the fly with IDENTICAL
    results; verify_jaccard keeps only exact-Jaccard-confirmed pairs."""
    import shutil

    from pyspark.sql import functions as F
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    t = Table.create(f"{wh}/dd", corpus.schema, spark=spark)
    t.append(corpus.filter(F.col("doc_id") % 2 == 0))
    t.create_dedup_index(n_buckets=16)
    t.append(corpus.filter(F.col("doc_id") % 2 == 1))
    assert t.refresh_dedup_index() == "incremental"
    assert t.refresh_dedup_index() == "fresh"
    res = t.dedup_against_index(new)
    got_idx = sorted((r.new_id, r.dup_of, r.src) for r in res.collect())
    assert got_idx, "expected candidates in the synthetic corpus"
    assert all(s in ("corpus", "batch") for _, _, s in got_idx)
    # index-free fallback produces the same candidate set
    shutil.rmtree(t._index_dir("dedup", "text"))
    got_fb = sorted((r.new_id, r.dup_of, r.src)
                    for r in t.dedup_against_index(new).collect())
    assert got_idx == got_fb
    # verify keeps only true near-dups, with their exact Jaccard
    t.create_dedup_index(n_buckets=16)
    v = t.dedup_against_index(new, verify_jaccard=0.5).collect()
    assert v and all(r.jaccard >= 0.5 for r in v)
    assert {(r.new_id, r.dup_of) for r in v} <= \
        {(a, b) for a, b, _ in got_idx}
    # non-append history (delete) forces a rebuild on refresh
    from paimon_spark import P
    t.delete_where(P.eq("doc_id", 1))
    assert t.refresh_dedup_index() == "rebuilt"


def _exact_jaccard(a, b, n=3):
    """Exact word n-gram shingle Jaccard, built as the engine builds
    shingles: lowercase alphanumeric tokens, the whole text if shorter
    than n tokens."""
    import re

    def sh(x):
        t = [w for w in re.split("[^a-z0-9]+", x.lower()) if w]
        return {" ".join(t[i:i + n]) for i in range(max(len(t) - n + 1, 1))}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_dedup_against_index_matches_reference_paths(spark, wh):
    """The candidate query processes the batch once; its three outputs
    are pinned to independent paths: src='batch' rows equal
    minhash_lsh_pairs of the batch, src='corpus' rows equal the
    index-free fallback, and verify_jaccard rows equal exact shingle
    Jaccard. The batch covers exact-copy groups (inside the batch and
    against the corpus), one-word near copies, a text shorter than n
    tokens, NULL texts, and a non-nullable createDataFrame source (the
    shape that once crashed Spark's UnionBase.rewriteConstraints)."""
    import random
    import shutil

    from paimon_spark.functions.dedup import minhash_lsh_pairs
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(150)]

    def doc(words=30):
        return [rng.choice(vocab) for _ in range(words)]

    def near(words):
        w = list(words)
        w[len(w) // 2] = "replaced"
        return " ".join(w)

    corpus = [(i, " ".join(doc())) for i in range(40)]
    t = Table.create(f"{wh}/ddref", SCH, spark=spark)
    t.append(spark.createDataFrame(corpus, SCH))
    t.create_dedup_index(n_buckets=8)
    same, own = " ".join(doc()), doc()
    batch = [(1000, same), (1001, same), (1002, same),
             (1003, corpus[5][1]),
             (1004, near(corpus[7][1].split())),
             (1005, near(own)), (1006, " ".join(own)),
             (1007, "two Words"),
             (1008, None), (1009, None),
             *[(1010 + i, " ".join(doc())) for i in range(6)]]
    texts = dict(corpus + batch)
    nullable_ids = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("text", T.StringType())])
    strict = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("text", T.StringType(), False)])
    sources = [spark.createDataFrame(batch, nullable_ids),
               spark.createDataFrame(
                   [r for r in batch if r[1] is not None], strict)]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    indexed = []
    for new in sources:
        got = rows(t.dedup_against_index(new))
        indexed.append(got)
        verified = rows(t.dedup_against_index(new, verify_jaccard=0.5))
        lsh = {(r.id_b, r.id_a) for r in
               minhash_lsh_pairs(new, "id", "text", 16, 4, 3).collect()}
        assert {(a, b) for a, b, s in got if s == "batch"} == lsh
        expected = {(a, b, s) for a, b, s in got
                    if texts[a] is not None and texts[b] is not None
                    and _exact_jaccard(texts[a], texts[b]) >= 0.5}
        assert len(set(got)) == len(got)
        assert sorted((a, b, s) for a, b, s, _ in verified) == \
            sorted(expected)
        assert all(abs(j - _exact_jaccard(texts[a], texts[b])) < 1e-4
                   for a, b, _, j in verified)
    # every planted shape reached the reference paths
    assert {(1001, 1000, "batch"), (1002, 1000, "batch"),
            (1009, 1008, "batch"), (1003, 5, "corpus"),
            (1004, 7, "corpus"), (1006, 1005, "batch")} <= set(indexed[0])
    # index-free fallback: identical corpus rows
    shutil.rmtree(t._index_dir("dedup", "text"))
    for new, got in zip(sources, indexed):
        assert [r for r in rows(t.dedup_against_index(new))
                if r[2] == "corpus"] == [r for r in got if r[2] == "corpus"]


def test_dedup_candidate_queries_leave_no_cache(spark, wh):
    """The MinHash candidate query (with and without verify) and the
    embedding one leave nothing in Spark's CacheManager: a query that
    persists its intermediates and never unpersists them grows the
    cache by a few entries per ingest batch, forever."""
    import random
    t = Table.create(f"{wh}/ddcache", SCH, spark=spark)
    t.append(spark.createDataFrame(DOCS, SCH))
    t.create_dedup_index(n_buckets=8)
    new = spark.createDataFrame(
        [(10, DOCS[0][1]), (11, DOCS[0][1]), (12, "quick data engines")],
        SCH)
    rng = random.Random(3)
    vsch = T.StructType([T.StructField("vec_id", T.LongType()),
                         T.StructField("embedding",
                                       T.ArrayType(T.FloatType()))])
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)]
    te = Table.create(f"{wh}/vecache", vsch, spark=spark)
    te.append(spark.createDataFrame(vecs[:50], vsch))
    te.create_embedding_dedup_index()
    new_vecs = spark.createDataFrame(vecs[50:] + [(60, vecs[0][1])], vsch)
    spark.catalog.clearCache()
    t.dedup_against_index(new).collect()
    t.dedup_against_index(new, verify_jaccard=0.5).collect()
    te.dedup_embeddings_against_index(
        new_vecs, include_batch_pairs=False).collect()
    te.dedup_embeddings_against_index(
        new_vecs, include_batch_pairs=False, threshold=0.4).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_embedding_dedup_index_incremental(spark, wh):
    """Persisted sign-LSH band index over embeddings (r9): create →
    delta refresh → bucket-pruned incremental near-dup of a new vector
    batch; a dropped index falls back to banding the corpus on the fly
    with IDENTICAL candidates; threshold mode keeps exactly the
    candidates whose exact cosine passes, with that cosine as score."""
    import shutil

    import numpy as np
    from pyspark.sql import functions as F
    emb = (spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding"))
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    t = Table.create(f"{wh}/ve", corpus.schema, spark=spark)
    t.append(corpus.filter(F.col("vec_id") % 2 == 0))
    t.create_embedding_dedup_index()
    t.append(corpus.filter(F.col("vec_id") % 2 == 1))
    assert t.refresh_embedding_dedup_index() == "incremental"
    assert t.refresh_embedding_dedup_index() == "fresh"
    got_idx = sorted((r.new_id, r.dup_of, r.src) for r in
                     t.dedup_embeddings_against_index(new).collect())
    assert got_idx and {s for _, _, s in got_idx} == {"corpus", "batch"}
    # index-free fallback produces the same candidate set
    shutil.rmtree(t._index_dir("dedup_vec", "embedding"))
    got_fb = sorted((r.new_id, r.dup_of, r.src) for r in
                    t.dedup_embeddings_against_index(new).collect())
    assert got_idx == got_fb
    # threshold keeps exactly the candidates whose cosine is >= 0.4,
    # each with its exact cosine rounded to 4 places
    t.create_embedding_dedup_index()
    v = t.dedup_embeddings_against_index(new, threshold=0.4).collect()
    assert v and all(r.score >= 0.4 for r in v)
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float)
            for r in emb.collect()}

    def cos(a, b):
        x, y = vecs[a], vecs[b]
        return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
    assert all(abs(r.score - round(cos(r.new_id, r.dup_of), 4)) < 1e-4
               for r in v)
    got_v = {(r.new_id, r.dup_of, r.src) for r in v}
    assert len(got_v) == len(v)
    # pairs within 1e-4 of the threshold may round either way
    assert {c for c in got_idx if cos(*c[:2]) >= 0.4 + 1e-4} <= got_v \
        <= {c for c in got_idx if cos(*c[:2]) >= 0.4 - 1e-4}
    # non-append history (delete) forces a rebuild on refresh
    from paimon_spark import P
    t.delete_where(P.eq("vec_id", 2))
    assert t.refresh_embedding_dedup_index() == "rebuilt"


def test_remove_orphan_files_keeps_every_index_family(spark, wh):
    """The four persisted-index families are sidecars outside the
    manifests: orphan cleanup must leave every one of them intact, so
    each meta survives and each refresh still finds its index fresh
    (a walker that skipped only index/vector once deleted the other
    families' _meta.json, downgrading indexed queries to the
    on-the-fly fallback)."""
    import random
    rng = random.Random(5)
    sch = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("embedding",
                                      T.ArrayType(T.DoubleType()))])
    t = Table.create(f"{wh}/orph", sch, spark=spark)
    t.append(spark.createDataFrame(
        [(i, DOCS[i % len(DOCS)][1],
          [rng.uniform(-1, 1) for _ in range(64)]) for i in range(24)],
        sch))
    t.create_vector_index("embedding", n_centroids=2)
    t.create_text_index(n_buckets=4)
    t.create_dedup_index(n_buckets=4)
    t.create_embedding_dedup_index(n_buckets=4)
    t.remove_orphan_files()
    assert all(m is not None for m in (
        t.vector_index_meta(), t.text_index_meta(), t.dedup_index_meta(),
        t.embedding_dedup_index_meta()))
    assert [t.refresh_vector_index(), t.refresh_text_index(),
            t.refresh_dedup_index(),
            t.refresh_embedding_dedup_index()] == ["fresh"] * 4


def test_dedup_verify_broadcast_gate(spark, wh, monkeypatch):
    """VERDICT r9 #5: an adversarially LARGE candidate set (loose
    threshold on a dense near-dup corpus) must not be broadcast into the
    verify join — past the gate the plan flips to a shuffle join, with
    bit-identical results."""
    from pyspark.sql import functions as F

    from paimon_spark import Table as _T

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    t = Table.create(f"{wh}/ddgate", corpus.schema, spark=spark)
    t.append(corpus)
    t.create_dedup_index(n_buckets=16)

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "embedding"))
    ec, en = emb.filter(F.col("vec_id") % 5 != 0), \
        emb.filter(F.col("vec_id") % 5 == 0)
    te = Table.create(f"{wh}/vegate", ec.schema, spark=spark)
    te.append(ec)
    te.create_embedding_dedup_index()

    # ungated (normal path): candidates comfortably under the cap
    base = sorted((r.new_id, r.dup_of, r.src, r.jaccard) for r in
                  t.dedup_against_index(new, verify_jaccard=0.05).collect())
    assert base
    vbase = sorted((r.new_id, r.dup_of, r.src, r.score) for r in
                   te.dedup_embeddings_against_index(
                       en, threshold=-1.0).collect())
    assert vbase

    # trip the gate: every candidate set is now "too big to broadcast"
    monkeypatch.setattr(_T, "_VERIFY_BROADCAST_MAX_IDS", 0)
    gated_df = t.dedup_against_index(new, verify_jaccard=0.05)
    gated = sorted((r.new_id, r.dup_of, r.src, r.jaccard)
                   for r in gated_df.collect())
    assert gated == base

    # plan shape must actually flip: with the hint gone (and auto-
    # broadcast disabled so size estimation can't sneak one back in)
    # the verify join is a shuffle join
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = t.dedup_against_index(
            new, verify_jaccard=0.05)._jdf.queryExecution() \
            .explainString(spark._jvm.org.apache.spark.sql.execution
                           .ExplainMode.fromString("simple"))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # embedding flavor: same gate, same contract (monkeypatch still
    # tripped — vbase above was measured ungated)
    vgated = sorted((r.new_id, r.dup_of, r.src, r.score) for r in
                    te.dedup_embeddings_against_index(
                        en, threshold=-1.0).collect())
    assert vgated == vbase
