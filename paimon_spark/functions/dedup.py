"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything is JVM-side Catalyst expressions (array lambdas, no Python UDFs).
The only string hash is one md5 per shingle; the k MinHash permutations are
affine transforms h_j(x) = (a_j*x32 + b_j) mod 2^31-1 with deterministic
coefficients generated in pure Python (seeded) and inlined as literals into
BOTH the Spark plan and the DuckDB oracle SQL — exact cross-engine parity
with no shared-hash-library requirement.

Scale notes (100 TB): shingling/minhashing is embarrassingly parallel
per-row; the LSH bucket-join shuffles only (band_key, doc_id) pairs —
k*|docs| tiny rows — and the candidate verification joins shingle SETS
only for docs that share a bucket. No all-pairs anything. Incremental
dedup against a persisted band index (`Table.dedup_against_index`)
touches each new batch once: one checkpointed projection (exact-copy
rep, shingles, band keys) feeds the corpus join, the within-batch pairs
and the batch side of verify; the corpus is shingled only for candidate
ids and never re-banded while the index is fresh. The index itself —
build, refresh, corpus candidate join, verify broadcast gate — is one
band-key implementation on `Table` shared with the sign-LSH embedding
index; this module supplies only its band keys (`with_minhash`,
`band_keys`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from paimon_spark.functions.text import md5_long, sql_tokens, tokens

MERSENNE31 = 2147483647


def _coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (LCG, no RNG libraries)."""
    out, state = [], seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 16) % 999983 + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (state >> 16) % 999979
        out.append((a, b))
    return out


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles; whole text if shorter than n tokens.
    DuckDB mirror: sql_shingles(). NOTE: inlines tokens() into the gram
    lambda — callers shingling many rows should materialize the token
    array in its own projection first and use shingles_from_tokens
    (HOF lambda bodies evaluate interpreted per element; see
    with_minhash's three-projection rationale)."""
    return shingles_from_tokens(tokens(col), n)


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Word n-gram shingles over an ALREADY-MATERIALIZED token array."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )


def sql_shingles(x: str, n: int = 3) -> str:
    t = sql_tokens(x)
    return (f"list_transform(range(1, greatest(len({t}) - {n - 1}, 1) + 1), "
            f"i -> array_to_string({t}[i:i+{n - 1}], ' '))")


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """32-bit hash per shingle (low 8 hex chars of md5)."""
    return F.transform(
        shingles(col, n),
        lambda s: F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10).cast("long"),
    )


def sql_shingle_hashes(x: str, n: int = 3) -> str:
    return (f"list_transform({sql_shingles(x, n)}, "
            f"s -> (('0x' || substr(md5(s), 1, 8))::BIGINT))")


def _affine(a: int, b: int):
    # closure factory — PySpark treats lambda default-args as extra params
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE31)


def minhash_signature(col: Column, k: int = 16, n: int = 3) -> list[Column]:
    """k MinHash values as separate columns mh0..mh{k-1}.

    NOTE: inlining these k expressions into one projection re-evaluates the
    md5 shingle-hash subtree k times; prefer `with_minhash(df, ...)` which
    shares the hash array across the k permutations (~k× faster)."""
    hashes = shingle_hashes(col, n)
    sig = []
    for j, (a, b) in enumerate(_coeffs(k)):
        mh = F.array_min(F.transform(hashes, _affine(a, b)))
        sig.append(mh.alias(f"mh{j}"))
    return sig


def with_minhash(df: DataFrame, id_col: str, text_col: str,
                 k: int = 16, n: int = 3, keep: tuple[str, ...] = (),
                 shingles_as: str | None = None) -> DataFrame:
    """(id, *keep, mh0..mh{k-1}) with each expensive intermediate
    computed ONCE. `keep` columns pass through unchanged; `shingles_as`
    also keeps the shingle-string array under that name (the verify
    side of a candidate query reads it instead of re-shingling).

    THREE projections, each a named intermediate referenced >1 time so
    Catalyst's CollapseProject keeps it as its own stage instead of
    duplicating the subtree:
    1. `__tok` — the token array. Without this, `split(lower(text))` is
       inlined into the shingle lambda's BODY, and higher-order-function
       lambdas evaluate interpreted per element → O(tokens²) per doc
       (measured 5× on sf0.1 documents).
    2. `__sh` — the md5 shingle-hash array, shared by all k permutations
       (k× less md5 work than the naive single-select).
    3. the k affine-permutation mins — k independent
       `array_min(transform(__sh, h → (a_j·h+b_j) % M))` columns with
       the coefficients baked in as LITERALS, parsed from SQL text in
       one selectExpr call (r13). Two earlier shapes both lose: k
       separate F.transform python lambdas cost several py4j
       round-trips each (~1.1 s of pure DRIVER time per call —
       cProfile: 3 012 round-trips inside dedup_against_index); and a
       single nested transform over a named_struct coefficient array
       re-reads c['a']/c['b'] through the outer lambda variable PER
       ELEMENT of __sh, which under interpreted HOF evaluation nearly
       doubled execution (dedup_minhash_pairs 1.38 → 2.36 s measured
       interleaved same-session). SQL-text parsing happens JVM-side in
       one round-trip and yields the literal-baked plan — values
       bit-identical, same alias names.
    A kept shingle array is its own projection between 1. and 2.
    (referenced twice, so it stays one): the hashes read it, never a
    second shingle build."""
    cols = [id_col, *keep]
    t = df.select(*cols, tokens(F.col(text_col)).alias("__tok"))
    grams = shingles_from_tokens(F.col("__tok"), n)
    if shingles_as is not None:
        t = t.select(*cols, grams.alias(shingles_as))
        cols.append(shingles_as)
        grams = F.col(shingles_as)
    h = t.select(
        *cols,
        F.transform(
            grams,
            lambda s: F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8),
                             16, 10).cast("long")).alias("__sh"))
    return h.selectExpr(
        *[f"`{c}`" for c in cols],
        *[f"array_min(transform(__sh, h -> ({a} * h + {b})"
          f" % {MERSENNE31})) AS mh{j}"
          for j, (a, b) in enumerate(_coeffs(k))])


def sql_minhash_signature(x: str, k: int = 16, n: int = 3) -> list[str]:
    hashes = sql_shingle_hashes(x, n)
    return [
        f"list_min(list_transform({hashes}, h -> (h * {a} + {b}) % {MERSENNE31})) AS mh{j}"
        for j, (a, b) in enumerate(_coeffs(k))
    ]


def band_keys(k: int = 16, bands: int = 4) -> list[Column]:
    """LSH band keys: md5 over each band's minhash values."""
    r = k // bands
    out = []
    for b in range(bands):
        cols = [F.col(f"mh{j}").cast("string") for j in range(b * r, (b + 1) * r)]
        out.append(F.md5(F.encode(F.concat_ws(",", *cols), "UTF-8")).alias(f"band{b}"))
    return out


def sql_band_keys(k: int = 16, bands: int = 4) -> list[str]:
    r = k // bands
    return [
        "md5(" + " || ',' || ".join(f"mh{j}::VARCHAR" for j in range(b * r, (b + 1) * r)) + f") AS band{b}"
        for b in range(bands)
    ]


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      k: int = 16, bands: int = 4, n: int = 3,
                      dedupe_exact_first: bool = True,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing ≥1 LSH band bucket.
    Returns distinct (id_a < id_b) pairs. Shuffle = `bands` tiny rows per doc.

    The (id, band keys) projection is persisted BEFORE the explode:
    Catalyst otherwise collapses the whole k-permutation minhash tree into
    the Generate operator, which evaluates it interpreted (no codegen) and
    once per emitted band — ~100x slower. Materializing the tiny signature
    table once is also what you want at 100 TB: signatures are ~1% of
    corpus size, and the self-join only ships (band_key, id) pairs.

    HOT-BUCKET GUARD (the O(m²) failure mode): m identical docs share
    every band, so one bucket would emit m(m-1)/2 pairs — at web scale a
    boilerplate page with 10⁶ copies is 5·10¹¹ pairs from one bucket.
    `dedupe_exact_first` (default) collapses exact-copy groups to their
    min-id representative before banding and emits the group as m-1
    (rep, member) chain pairs instead of the full clique: connected
    components — the consumer that matters — are IDENTICAL (the chain
    connects the group, and any LSH edge to an outside doc lands on the
    rep, which is content-equal to every member), at O(m) instead of
    O(m²) pairs. Cost: one extra content-hash groupBy pass. On a corpus
    with no exact copies the output is exactly the unguarded result.
    `max_bucket_size` additionally caps NEAR-identical (not equal)
    buckets by keeping only the lowest-id members per bucket —
    explicitly lossy (documented recall trade), off by default."""
    if dedupe_exact_first:
        from pyspark.sql import Window
        # ONE scan + ONE content-hash shuffle: min-id per exact-copy
        # group via a window (no self-join, text shipped once); persist
        # so the chain branch and the rep-only signature branch don't
        # recompute the pass
        grouped = (df.select(F.col(id_col), F.col(text_col))
                   .withColumn("__ck", F.md5(F.encode(F.col(text_col),
                                                      "UTF-8")))
                   .withColumn("__rep", F.min(id_col).over(
                       Window.partitionBy("__ck")))
                   .drop("__ck").persist())
        chain = (grouped.filter(F.col(id_col) != F.col("__rep"))
                 .select(F.col("__rep").alias("id_a"),
                         F.col(id_col).alias("id_b")))
        df = grouped.filter(F.col(id_col) == F.col("__rep")) \
                    .select(id_col, text_col)
    else:
        chain = None
    sig = with_minhash(df, id_col, text_col, k, n)
    sig = sig.select(id_col, *band_keys(k, bands)).persist()
    stacked = sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.concat_ws("#", F.lit(str(b)), F.col(f"band{b}")) for b in range(bands)
        ])).alias("bk"))
    if max_bucket_size is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("bk").orderBy(id_col)
        stacked = (stacked.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") <= max_bucket_size)
                   .drop("__rn"))
    a, b = stacked.alias("a"), stacked.alias("b")
    pairs = (a.join(b, "bk")
             .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")))
    if chain is not None:
        # ONE distinct above the union (r13): it dedupes the multi-band
        # collisions AND the (disjoint, duplicate-free) chain branch in a
        # single exchange — the former pre-union distinct was subsumed by
        # this one. The post-union distinct itself must STAY: dropping it
        # trips Spark 4.1's UnionBase.rewriteConstraints
        # NoSuchElementException when the source is non-nullable
        # (reproduced r13; see similarity.py)
        pairs = pairs.unionByName(chain)
    return pairs.distinct()


def token_hashes(col: Column) -> Column:
    """32-bit md5-derived hash per word token."""
    return F.transform(
        tokens(col),
        lambda t: F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 8), 16, 10).cast("long"),
    )


def _simhash_bits(h: Column, bits: int) -> Column:
    def _bit_set(j: int):
        return lambda x: F.shiftright(x, j).bitwiseAND(F.lit(1)) == 1

    n = F.size(h)
    acc = F.lit(0).cast("long")
    for j in range(bits):
        cnt = F.size(F.filter(h, _bit_set(j)))
        bit = F.when((cnt * 2) > n, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        acc = acc + F.shiftleft(bit, j)
    return acc


def simhash(col: Column, bits: int = 32) -> Column:
    """SimHash over word tokens: bit j set iff more token-hashes have bit j
    set than clear. Pure array ops — no explode, no shuffle.
    Prefer `with_simhash(df, ...)`, which hashes tokens once, not per bit."""
    return _simhash_bits(token_hashes(col), bits)


def with_simhash(df: DataFrame, id_col: str, text_col: str,
                 bits: int = 32) -> DataFrame:
    """(id, simhash) with the token-hash array materialized once and shared
    by all bit-counters (same CollapseProject rationale as with_minhash)."""
    h = df.select(F.col(id_col), token_hashes(F.col(text_col)).alias("__th"))
    return h.select(id_col, _simhash_bits(F.col("__th"), bits).alias("simhash"))


def sql_simhash(x: str, bits: int = 32) -> str:
    t = sql_tokens(x)
    h = f"list_transform({t}, tok -> (('0x' || substr(md5(tok), 1, 8))::BIGINT))"
    terms = []
    for j in range(bits):
        cnt = f"len(list_filter(__h, v -> (v >> {j}) & 1 = 1))"
        terms.append(f"(CASE WHEN {cnt} * 2 > len(__h) THEN CAST(1 AS BIGINT) ELSE 0 END << {j})")
    return f"(SELECT {' + '.join(terms)} FROM (SELECT {h} AS __h) __s)"


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two integer hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def jaccard_shingles(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct shingle sets, parity-safe:
    |A∩B| via explicit contains-filter, |A∪B| = |A|+|B|-|A∩B|."""
    sa, sb = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.filter(sa, lambda x: F.array_contains(sb, x)))
    union = F.size(sa) + F.size(sb) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(0.0)


def exact_dedup(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Exact dedup on content hash: keep min id per group, count copies."""
    key = F.md5(F.encode(F.concat_ws("", *[F.col(c) for c in cols]), "UTF-8"))
    return (df.withColumn("__k", key)
            .groupBy("__k")
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
            .withColumnRenamed("__k", "content_hash"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', §3): every node links each STRICTLY LARGER
    neighbor to the minimum of its closed neighborhood. Deterministic,
    one groupBy + one join, both keyed on src (Catalyst reuses the
    exchange)."""
    nb = edges.union(edges.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
    mins = (nb.groupBy("src")
            .agg(F.least(F.min("dst"), F.first("src")).alias("mn")))
    # shuffle_hash: checkpointed inputs carry no stats, so the static
    # planner would sort-merge every round; both sides are already
    # hash-partitioned on src by the groupBy, and a hash join skips
    # the per-round sorts.
    # NO trailing distinct (r13): this output feeds only _small_star,
    # whose groupBy-min is duplicate-insensitive and whose own trailing
    # distinct dedupes the round's output — the composed round result
    # is identical, one exchange per round cheaper. (Duplicates here
    # are bounded: ≤2 per input edge, from a first-round input carrying
    # both (a,b) and (b,a).) The round OUTPUT must stay distinct — the
    # convergence probe counts child rows per node, and a duplicated
    # fixpoint edge would read as two parents and never converge.
    return (nb.join(mins.hint("shuffle_hash"), "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge large→small, then each
    node links its ≤-neighbors (and itself) to the neighborhood min."""
    o = edges.select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
    mins = o.groupBy("src").agg(F.min("dst").alias("mn"))
    relink = (o.join(mins.hint("shuffle_hash"), "src")
              .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))
    selfs = mins.select("src", F.col("mn").alias("dst"))
    return (relink.union(selfs)
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _cc_fixpoint_edges(pairs: DataFrame,
                       max_iter: int = 25
                       ) -> tuple[DataFrame, DataFrame]:
    """The star-contraction loop of connected_components, split out
    (r14) so survivor-only consumers can stop at the fixpoint EDGES:
    returns (initial_edges, fixpoint_edges), both localCheckpointed.
    At the fixpoint the edge set is a union of disjoint stars (verified
    by the convergence probe), so fixpoint edges are exactly one
    (child → component-min root) row per NON-ROOT node."""
    edges0 = pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst")) \
        .filter(F.col("src") != F.col("dst"))
    initial = _ckpt_no_constraints(edges0.distinct())
    edges = initial
    converged = False
    for _ in range(max_iter):
        # LAZY checkpoint + single-reference probe (r13): the probe
        # references `edges` exactly ONCE (explode emits the child and
        # parent tags of an edge in one pass instead of a two-leg
        # union), so the probe's own action materializes the lazy
        # checkpoint in the SAME Spark job — one job per round instead
        # of checkpoint-then-probe. (The earlier two-leg union probe
        # under a lazy checkpoint computed the round twice — both legs
        # raced the cache — measured 2.2 s → 5.5 s on
        # soft_dedup_weights; the single-scan probe cannot.)
        edges = _ckpt_no_constraints(_small_star(_large_star(edges)),
                                     eager=False)
        # termination = the edge set is a UNION OF DISJOINT STARS:
        # (a) no node appears as both a src (child) and a dst (parent),
        # AND (b) no src carries two distinct parents. Condition (a)
        # alone is insufficient — a bridge node can hold two parents
        # from two star centers ({(5,7),(1,7),(5,9),(2,9)} reaches
        # src=5 → {1,2} with src∩dst empty), which would emit doc 5
        # twice and split one component in two. With both conditions
        # the state is a disjoint star union; since every round
        # preserves connectivity (Kiveris et al. lemmas 1-2) each star
        # is exactly one input component, and post-small-star edges
        # always point child→smaller, so each root is its component
        # min. One probe job: tag child/parent occurrences, a node is
        # bad if it has >1 child row or is both child and parent.
        bad = (edges.select(F.explode(F.array(
                   F.struct(F.col("src").alias("n"),
                            F.lit(1).alias("c"), F.lit(0).alias("p")),
                   F.struct(F.col("dst").alias("n"),
                            F.lit(0).alias("c"), F.lit(1).alias("p"))))
                    .alias("x"))
               .groupBy(F.col("x.n").alias("n"))
               .agg(F.sum("x.c").alias("c"), F.max("x.p").alias("p"))
               .filter((F.col("c") > 1)
                       | ((F.col("c") >= 1) & (F.col("p") == 1)))
               .limit(1).count())
        if bad == 0:
            converged = True
            break
    if not converged:
        # an unconverged exit would silently mis-assign cluster_id (and
        # thus is_survivor) — refuse instead. With O(log n) rounds this
        # needs a component of ~2^max_iter nodes to trigger.
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"rounds (~2^{max_iter}-node component); raise max_iter — "
            f"each extra round costs two shuffles, data stays "
            f"distributed")
    return initial, edges


def _ckpt_no_constraints(df: DataFrame, eager: bool = True) -> DataFrame:
    # Checkpoint with constraint propagation DISABLED (r13): Spark
    # 4.1's LogicalRDD captures the origin plan's constraints at
    # localCheckpoint time, and constraints mined from a complex
    # pairs plan (aliases over pruned attributes) crash
    # UnionBase.rewriteConstraints (NoSuchElementException: key not
    # found) when the star rounds union that LogicalRDD — reproduced
    # with any non-nullable source (e.g. spark.range-derived docs);
    # nullable parquet sources generate no constraints, which is why
    # the bench corpus never tripped it. A checkpoint taken while
    # the conf is off carries NO origin constraints, permanently, so
    # every downstream union is safe with constraints re-enabled.
    # CC results are constraint-independent; the flip is driver-side
    # and restored immediately.
    sess = df.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    prev = sess.conf.get(key)
    sess.conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        sess.conf.set(key, prev)


def cc_nonsurvivors(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Just the ids that LOSE their near-dup cluster (cluster_id ≠ id),
    i.e. the fixpoint stars' child (src) side — r14, guide §1.2 ("don't
    compute things you throw away"): survivorship-only consumers
    (pipeline_curated_corpus's `doc_id = cluster_id` gate) don't need
    the per-node labels, so the full-node left join, the corpus
    re-join and the cluster-size pass all drop out; an anti-join
    against this (non-survivors ≪ corpus) set is the whole filter.
    Identical survivor set by construction: connected_components
    labels doc_id = cluster_id exactly for roots and non-nodes, and
    the fixpoint src set is precisely the non-root nodes."""
    _initial, edges = _cc_fixpoint_edges(pairs, max_iter)
    return edges.select(F.col("src").alias("id"))


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate pairs: (doc_id,
    cluster_id = min id in the connected component). Closes the dedup
    loop — LSH emits pairs, this groups them, and `doc_id = cluster_id`
    marks the survivor each cluster keeps.

    Alternating large-star/small-star (Kiveris et al., MapReduce CC) —
    converges in O(log n) ROUNDS regardless of component diameter, so a
    100 TB corpus whose near-dup graph contains a pathological chain
    (transitive 0.9-similarity drift) finishes in ~log2(n) rounds where
    plain min-label propagation needs diameter rounds (r9 shape: raised
    past max_iter=20 on any >20-deep chain). Near-clique dup clusters
    converge in 2-3 rounds, same as before. Each round is two shuffles;
    the driver loop is CONTROL only (convergence check is a limit-1
    anti-join count, data stays distributed).

    localCheckpoint (not persist): TRUNCATES lineage. The loop
    otherwise re-analyzes the whole upstream pairs plan (LSH joins,
    windows, unions) on every iteration's action, and each round's
    edges compound it — Catalyst analysis time grows superlinearly in
    iterations (measured 10.2 s → 2.9 s on sf0.1 clusters). Same
    reason GraphX checkpoints iterative state.
    Edges are checkpointed FIRST, then nodes derive from the
    checkpointed edges: (a) the upstream pairs plan (LSH joins,
    windows, unions) is analyzed and executed once, not twice; (b) a
    Union whose two children project different columns of the same
    complex upstream plan trips Spark 4.1's
    UnionBase.rewriteConstraints (NoSuchElementException: key not
    found) when that plan carries cross-column constraints — union
    over the flat LogicalRDD can't. (Loop split out as
    _cc_fixpoint_edges in r14 so survivor-only consumers can skip the
    label join below; this function's output is unchanged.)"""
    initial, edges = _cc_fixpoint_edges(pairs, max_iter)
    # nodes: LAZY checkpoint — only the final star join reads it, so its
    # materialization rides that action instead of paying its own job
    nodes = _ckpt_no_constraints(
        initial.select(F.col("src").alias("id"))
        .union(initial.select(F.col("dst").alias("id")))
        .distinct(), eager=False)
    # fixpoint edges form a star: (node → component min). Roots never
    # appear as src — they label themselves. (shuffle_hash: no stats on
    # either checkpointed side; hash join needs no sorts)
    return (nodes.join(edges.withColumnRenamed("src", "id")
                       .hint("shuffle_hash"), "id", "left")
            .select(F.col("id").alias("doc_id"),
                    F.coalesce(F.col("dst"), F.col("id"))
                    .alias("cluster_id")))


def soft_dedup_weights(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 16,
                       bands: int = 4, n: int = 3) -> DataFrame:
    """SemDeDup/D4-style SOFT deduplication: instead of dropping
    near-duplicates, weight every document by 1/|its near-dup cluster|
    so a training-mixture sampler sees each content family with unit
    total mass. Singleton documents keep weight 1.0; survivors are the
    cluster minima (same contract as connected_components).

    Shape = minhash_lsh_pairs (band-keyed shuffle, hot-bucket guarded)
    + large-star/small-star components (O(log n) rounds) + one
    broadcast-or-shuffle join back to the corpus — nothing all-pairs,
    100 TB-safe. Returns (id, cluster_id, cluster_size, weight)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, k, bands, n)
    cc = connected_components(pairs)
    # cluster_size via a count window, not groupBy+join (r14, guide
    # §2.4 / VERDICT r13 #4): the groupBy exchanged the CC output once
    # to count and a second time (shuffle_hash) to attach the count —
    # one count() over an unordered cluster_id window clusters the SAME
    # rows once and computes the same per-cluster count in that single
    # exchange. Identical (cluster_id, cluster_size) per row.
    from pyspark.sql import Window
    labeled = cc.withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("cluster_id")))
    # shuffle_hash on the corpus re-join: the labels side has no stats
    # at static planning (localCheckpointed CC output), so the planner
    # would pick SMJ; a hash join needs no sort on either side, and at
    # scale the labels table can be corpus-sized, so an unconditional
    # broadcast would be wrong (AQE still upgrades small ones)
    out = (df.select(F.col(id_col).alias("doc_id"))
           .join(labeled.hint("shuffle_hash"), "doc_id", "left")
           .select(
               F.col("doc_id").alias(id_col),
               F.coalesce("cluster_id", F.col("doc_id"))
               .alias("cluster_id"),
               F.coalesce("cluster_size", F.lit(1)).cast("long")
               .alias("cluster_size")))
    return out.withColumn(
        "weight", F.round(F.lit(1.0) / F.col("cluster_size"), 6))
