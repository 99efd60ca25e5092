"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — all as declarative DataFrame
plans (no Python UDFs; the per-doc work is array expressions, the
pairing work is joins/aggregations Catalyst can schedule at 100 TB).

Scale design
------------
- Exact dedup: one shuffle on the content hash (map-side combine).
- Exact Jaccard: explode distinct shingles -> self-equi-join on shingle
  -> group by pair.  The join key is the shingle, so common-shingle skew
  is the risk at scale; ``max_shingle_df`` drops ultra-common shingles
  (stopword-like) the way search engines drop high-df terms, which both
  bounds skew and removes pairs that share only noise.
- MinHash: per-doc signature via one explode + one groupBy(doc) with
  ``min_by`` per permutation (array-typed agg, no per-perm shuffle);
  LSH bands -> join docs sharing a band bucket -> verify candidates with
  exact Jaccard.  Candidate count, not n^2, drives cost.
- SimHash: 60 per-bit conditional sums in a single groupBy pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffiec_pq_spark.functions.hashing import hash60
from ffiec_pq_spark.operators.text import fingerprint_md5, shingles, tokens

# Permutation constants for MinHash: mh_i = (a_i*(h mod P) + b_i) mod P
# with P = 2^31 - 1.  Keeping every operand under 2^31 means a*h < 2^62:
# no signed-64 overflow in Spark AND no overflow error in the SQL oracle
# (DuckDB raises on BIGINT overflow rather than wrapping).
MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)


def perm_params(n_perm: int, seed: int = 42) -> list[tuple[int, int, int]]:
    """Deterministic (i, a, b) permutation constants (golden-ratio stride —
    fixed, reproducible cross-engine; no RNG so oracle SQL can inline them)."""
    phi = 0x9E3779B97F4A7C15
    out = []
    for i in range(n_perm):
        a = ((seed + 1) * phi * (2 * i + 1)) % (MINHASH_PRIME - 1) + 1
        b = ((seed + 7) * phi * (i + 1) * 2654435761) % MINHASH_PRIME
        out.append((i, a, b))
    return out


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) content: (content_hash, rep_id, n_copies)."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingle) distinct pairs + per-doc set size.

    ``spread`` unlocks compute parallelism when the doc table arrives as
    few scan splits (small files) — shingling is the CPU-heavy stage."""
    from ffiec_pq_spark.session import spread

    return spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle"),
    )


def doc_set_sizes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, set_size) via a narrow projection — no explode, no shuffle:
    cheaper than counting the exploded shingle table and avoids a second
    recompute of the shingling branch."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.array_distinct(shingles(text_col, k))).alias("set_size"),
    )


def _content_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, rep, g) per document: ``rep`` = min id among documents with
    byte-identical NORMALIZED content (lower + trim + whitespace
    collapse — the same normalization the shingler applies, so equal
    hash implies equal token sequence implies equal shingle set), ``g``
    = copy count.  One shuffle on the content hash.

    This is the collapse step that makes the pairwise dedup operators
    duplicate-proof: on a corpus where documents repeat d times, every
    shingle's document frequency and every near-dup clique grows by d,
    so pair fan-out grows by d² — but the DISTINCT-content relation
    stays fixed.  Run the quadratic-shaped work on representatives,
    then expand results back to copies (pure output materialization)."""
    from pyspark.sql import Window

    w = Window.partitionBy("_chash")
    return (
        df.select(
            F.col(id_col).alias("id"), fingerprint_md5(text_col).alias("_chash")
        )
        .withColumn("rep", F.min("id").over(w))
        .withColumn("g", F.count(F.lit(1)).over(w))
        .drop("_chash")
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame, copies: DataFrame, score_col: str
) -> DataFrame:
    """Cross-group expansion: every representative pair (id_a, id_b,
    score) becomes |A|x|B| copy pairs with the same score, emitted as
    (least, greatest) so the id_a < id_b contract survives arbitrary
    id interleaving between the two groups."""
    ca = copies.select(F.col("rep").alias("_ra"), F.col("id").alias("_ia"))
    cb = copies.select(F.col("rep").alias("_rb"), F.col("id").alias("_ib"))
    return (
        rep_pairs.join(ca, rep_pairs.id_a == ca._ra)
        .join(cb, rep_pairs.id_b == cb._rb)
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            F.col(score_col),
        )
    )


def _within_group_pairs(
    qualifying_reps: DataFrame, copies: DataFrame, score_col: str
) -> DataFrame:
    """All C(g, 2) copy pairs inside each qualifying group (one row per
    rep with the group's score): the pairs the naive pipeline finds
    between identical copies, produced here without ever joining them
    on shingles."""
    ca = copies.select(F.col("rep").alias("_r"), F.col("id").alias("_ia"))
    cb = copies.select(F.col("rep").alias("_r"), F.col("id").alias("_ib"))
    return (
        qualifying_reps.join(ca, qualifying_reps.id == ca._r)
        .join(cb, qualifying_reps.id == cb._r)
        .filter(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.col(score_col),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (id_a < id_b, jaccard).

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct shingle sets.

    The shingle table is cached: it feeds both self-join branches and
    the set-size aggregate, and shingling is the CPU-heavy stage — an
    uncached plan recomputes it three times (measured 3x wall time).
    The cache is the exploded (id, shingle) pairs, far smaller than
    the pair fan-out.  It is deliberately session-lifetime: Spark's
    CacheManager pins cached plans until explicit unpersist or session
    stop (it does NOT free on reference drop), but it also dedupes by
    logical plan, so re-running the same query reuses one entry rather
    than accumulating.  Long-lived sessions cycling through many
    DISTINCT inputs should ``spark.catalog.clearCache()`` between
    pipelines.

    ``collapse_exact`` (default): exact-duplicate documents are
    collapsed to one representative BEFORE the shingle self-join and
    the resulting rep pairs are expanded back to copy pairs afterwards
    (:func:`_content_groups`) — identical output, but the quadratic-
    shaped work runs on distinct content only, so a corpus where every
    document repeats d times costs ~1x the distinct corpus instead of
    d².  The df-cap is preserved exactly by weighting each rep's
    shingles with its copy count g (raw df = Σ g); within-group pairs
    score c/(2s − c) where c = |capped set|, s = |uncapped set| — the
    same value the naive pipeline derives pairwise.  The SQL oracle
    runs the NAIVE formulation, so the driver's hash compare proves
    this rewrite, not just exercises it."""
    from ffiec_pq_spark.resident import tracked_persist

    if not collapse_exact:
        # lazy by measurement: an eager count() barrier here was A/B'd
        # at sf0.1 (round 15) and did NOT pay — the racing consumers
        # re-derive only a cheap subtree while the barrier adds a full
        # materialization pass (OPTIMIZATION_r15.md, eager-barrier A/B)
        sh = tracked_persist(doc_shingles(df, text_col, id_col, k))
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
        if max_shingle_df is not None:
            keep = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df_"))
                .filter(F.col("df_") <= max_shingle_df)
                .select("shingle")
            )
            sh = sh.join(keep, "shingle")
        a = sh.select(F.col("id").alias("id_a"), "shingle")
        b = sh.select(F.col("id").alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(
            F.col("id").alias("id_a"), F.col("set_size").alias("size_a")
        )
        sb = sizes.select(
            F.col("id").alias("id_b"), F.col("set_size").alias("size_b")
        )
        return _project_jaccard(
            inter.join(sa, "id_a").join(sb, "id_b"), threshold
        )

    groups = tracked_persist(_content_groups(df, text_col, id_col))
    rep_ids = groups.filter(F.col("id") == F.col("rep")).select("id", "g")
    rep_docs = df.join(
        rep_ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    # lazy by measurement (round-15 eager-barrier A/B: the count()
    # barrier cost more than the racing consumers' cheap re-derivation)
    sh = tracked_persist(doc_shingles(rep_docs, text_col, id_col, k))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    shc = sh
    if max_shingle_df is not None:
        # raw document frequency = Σ copy-count over reps: identical
        # copies all contain the shingle, so the weighted sum equals
        # the naive per-document count exactly
        keep = (
            sh.join(rep_ids, "id")
            .groupBy("shingle")
            .agg(F.sum("g").alias("df_"))
            .filter(F.col("df_") <= max_shingle_df)
            .select("shingle")
        )
        shc = sh.join(keep, "shingle")
    csize = shc.groupBy("id").agg(F.count(F.lit(1)).alias("_c"))
    a = shc.select(F.col("id").alias("id_a"), "shingle")
    b = shc.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    raw = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    rep_pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )
    copies = groups.select("rep", "id")
    cross = _expand_rep_pairs(rep_pairs, copies, "jaccard")
    # within-group score: identical copies share exactly the capped set
    # (c shingles) over uncapped sizes s each -> c / (2s - c); reps
    # with an empty uncapped set have no sizes row and produce no pair,
    # matching the naive join (nothing to join on)
    raw_w = F.col("_c") / (2 * F.col("set_size") - F.col("_c"))
    qual = (
        rep_ids.filter(F.col("g") >= 2)
        .join(sizes, "id")
        .join(csize, "id", "left")
        .withColumn("_c", F.coalesce(F.col("_c"), F.lit(0)))
        .filter(raw_w >= threshold)
        .select("id", F.round(raw_w, 6).alias("jaccard"))
    )
    within = _within_group_pairs(qual, copies, "jaccard")
    return cross.unionByName(within)


def contamination_overlap(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Eval-set decontamination probe: for every eval document sharing at
    least one word-``k``-gram with the training corpus, emit
    ``(eval_id, n_train_docs, n_shared_shingles)`` — the benchmark-leak
    report every LLM training pipeline runs before a data release.

    Plan: explode distinct shingles on both sides, drop shingles whose
    TRAIN document frequency exceeds ``max_shingle_df`` (ubiquitous
    n-grams carry no contamination signal and are exactly the skewed
    join keys that would degenerate the equi-join at corpus scale —
    same df-cap as :func:`jaccard_pairs`), equi-join on the shingle,
    aggregate per eval doc.  The df-cap is a COUNT window over the
    shingle partition rather than a separate aggregate-and-join: the
    train corpus is shingled ONCE (shingling is the CPU-heavy stage),
    and the window's shingle exchange is the same partitioning the
    equi-join needs, so the cap rides the join's own shuffle."""
    ev = doc_shingles(eval_df, text_col, id_col, k).select(
        F.col("id").alias("eval_id"), "shingle"
    )
    tr = doc_shingles(train_df, text_col, id_col, k).select(
        F.col("id").alias("train_id"), "shingle"
    )
    if max_shingle_df is not None:
        from pyspark.sql import Window

        df_w = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        tr = (
            tr.withColumn("_df", df_w)
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    return (
        ev.join(tr, "shingle")
        .groupBy("eval_id")
        .agg(
            F.countDistinct("train_id").alias("n_train_docs"),
            F.countDistinct("shingle").alias("n_shared_shingles"),
        )
    )


def _project_jaccard(joined: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard rounded 6dp), filtered on the UNROUNDED ratio
    so the gate matches an oracle's ``WHERE raw >= t`` exactly (a raw
    value rounding up across the threshold must not pass)."""
    raw = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        joined.filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 32,
    seed: int = 42,
    hash_fn=hash60,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: (id, sig array<long> of length n_perm).

    One explode + one groupBy(id); each permutation is an aggregate
    expression (``min((a*h + b) % P)``), so the whole signature is one
    shuffle regardless of n_perm.  ``_shingles``: a pre-built (cached)
    (id, shingle) frame to reuse across pipeline stages.
    """
    perms = perm_params(n_perm, seed)
    sh = _shingles if _shingles is not None else doc_shingles(
        df, text_col, id_col, k
    )
    hashed = sh.select("id", hash_fn(F.col("shingle")).alias("h"))
    # The whole signature as ONE parsed expression (an array of min
    # aggregates), not n_perm Column trees: the per-permutation
    # ``F.lit/F.col`` construction cost ~8 py4j round trips per perm —
    # ~1000 per call at n_perm=128, ~0.15 s of pure driver time paid by
    # every builder invocation (round-16 profile) — while one SQL
    # string parses in a single round trip.  Value-identical: same
    # ``min((a*(h%P)+b)%P)`` arithmetic with the same int-typed
    # literals (a, b, P all < 2^31), same array order (pinned by
    # tests/test_streaming.py's cross-form signature checks).
    arr = ", ".join(
        f"min(({a} * (h % {MINHASH_PRIME}) + {b}) % {MINHASH_PRIME})"
        for _, a, b in perms
    )
    return hashed.groupBy("id").agg(F.expr(f"array({arr}) AS sig"))


def minhash_sig_expr(
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    seed: int = 42,
    hash_fn=hash60,
):
    """Per-ROW MinHash signature as ONE pure expression (array<long> of
    length ``n_perm``) — no explode, no shuffle: each permutation is an
    ``array_min`` fold over the doc's hashed distinct-shingle array.

    Value-identical to :func:`minhash_signatures` (same shingles, same
    ``(a*(h%P)+b)%P`` permutations, min over the same set — pinned by
    tests/test_streaming.py) but usable where an aggregation is not:
    a projection ahead of a stateful streaming operator, or a
    per-row signature on an already-grouped relation.

    Shape matters twice here.  (1) ONE ``aggregate`` fold with an
    n_perm-slot accumulator, not n_perm separate
    ``array_min(transform(...))`` folds — the naive form repeats the
    hashed-shingle subexpression in every lambda (HOF lambdas defeat
    common-subexpression elimination) and measured 32x the per-row
    hash work.  (2) Even folded, higher-order functions are
    INTERPRETED, not codegen'd: this expression measured ~20x slower
    than the explode+groupBy :func:`minhash_signatures` on identical
    batches (30s vs 1.5s per 1250 docs, single scan split).  Hot batch
    paths — including ``foreachBatch`` bodies, which are batch plans —
    should use the grouped form; reach for this only where the plan
    genuinely cannot contain an aggregation.

    Shingle-less docs return NULL — the grouped form DROPS such docs
    (no rows to aggregate), and a non-null fallback here would be the
    untouched init accumulator ``[P]*n_perm``, a sentinel signature
    that would band-hash every such doc into the same LSH buckets and
    emit spurious near-dup pairs.  With :func:`shingles`' whole-text
    fallback the reachable case is NULL text (``aggregate`` over a
    NULL array is NULL); the explicit n==0 guard in the finish lambda
    additionally covers any EMPTY shingle array a future tokenizer
    could produce.  The count rides in the fold accumulator (a
    ``(n, sig)`` struct) so the shingle array is still evaluated
    exactly once — a ``F.when(size(...) > 0, ...)`` guard would
    duplicate the whole shingle subtree (HOF expressions get no
    CSE)."""
    perms = perm_params(n_perm, seed)
    p = F.lit(MINHASH_PRIME)
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for _, a, b in perms
        ]
    )
    hm = F.transform(
        F.array_distinct(shingles(text_col, k)),
        lambda s: hash_fn(s) % p,
    )
    # accumulator: (n shingles folded, per-permutation running mins) —
    # the sig slot's type must match the merge lambda's ARRAY<BIGINT>
    init = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.array_repeat(p.cast("long"), n_perm).alias("sig"),
    )
    return F.aggregate(
        hm,
        init,
        lambda acc, h: F.struct(
            (acc["n"] + F.lit(1).cast("long")).alias("n"),
            F.zip_with(
                acc["sig"], ab, lambda c, t: F.least(c, (t["a"] * h + t["b"]) % p)
            ).alias("sig"),
        ),
        lambda acc: F.when(acc["n"] > 0, acc["sig"]),
    )


def lsh_bands(
    signatures: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bkey): the LSH band-signature relation — band key =
    md5 of the band's slice of the signature.  This IS the dedup state
    at scale: ~n_bands compact rows per doc (vs the raw text), and the
    relation is a pure set union across shards/micro-batches, so both
    the batch candidate join and the incremental streaming fold
    (queries/round8.py) derive from the same rows."""
    # one parsed expression instead of n_bands x rows_per_band Column
    # trees (the same py4j-round-trip economy as minhash_signatures;
    # named_struct('band',...,'bkey',...) is exactly F.struct with
    # those aliases, and the literal band indexes stay int-typed)
    structs = ", ".join(
        "named_struct('band', {bi}, 'bkey', md5(concat_ws(',', {cols})))".format(
            bi=bi,
            cols=", ".join(
                f"cast(element_at(sig, {bi * rows_per_band + ri + 1}) as string)"
                for ri in range(rows_per_band)
            ),
        )
        for bi in range(n_bands)
    )
    return signatures.select(
        "id", F.explode(F.expr(f"array({structs})")).alias("bk")
    ).select("id", "bk.band", "bk.bkey")


def lsh_candidates(
    signatures: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing >= 1 band.

    Band key = md5 of the band's slice of the signature; join on
    (band_idx, band_key) then distinct pairs.  At scale the band join is
    the only shuffle and its key space is wide (band hash), so no skew.
    """
    bands = lsh_bands(signatures, n_bands, rows_per_band)
    l = bands.select(F.col("id").alias("id_a"), "band", "bkey")
    r = bands.select(F.col("id").alias("id_b"), "band", "bkey")
    return (
        l.join(r, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: candidates from banding, then exact
    Jaccard verification of candidates only: (id_a, id_b, jaccard).

    ``collapse_exact`` (default): exact-duplicate documents collapse to
    one representative before signatures/banding/verification and the
    rep pairs expand back to copy pairs at the end (see
    :func:`_content_groups`).  Identical copies have identical
    signatures, hence identical bands, so (x∈A, y∈B) is a naive
    candidate iff (rep_A, rep_B) is — and every within-group pair of a
    rep with a non-empty shingle set is a candidate scoring exactly
    1.0.  Output is identical to the naive pipeline (the SQL oracle
    replays the naive one), but duplicate-heavy corpora no longer grow
    the candidate verification quadratically."""
    from ffiec_pq_spark.resident import tracked_persist

    assert n_perm % n_bands == 0
    if collapse_exact:
        # eager: the final plan's broadcast subqueries execute
        # CONCURRENTLY, and a merely-lazy persist lets the racing
        # subquery jobs each recompute the content-hash window before
        # any of them publishes the cache (the round-15 profile showed
        # the same subtree's shuffle bytes written twice per rep)
        # populated by the recursive call's cand.count() (groups is an
        # ancestor of rep_docs) — one materialization job covers the
        # whole nested chain
        groups = tracked_persist(_content_groups(df, text_col, id_col))
        rep_docs = df.join(
            groups.filter(F.col("id") == F.col("rep")).select(
                F.col("id").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        rep_pairs = minhash_near_dups(
            rep_docs, text_col, id_col, k, n_perm, n_bands, threshold, seed,
            collapse_exact=False,
        )
        copies = groups.select("rep", "id")
        cross = _expand_rep_pairs(rep_pairs, copies, "jaccard")
        # identical copies: jaccard exactly 1.0 whenever the shingle
        # set is non-empty (threshold <= 1 always admits them; an
        # empty set produces no signature row, hence no naive pair)
        sizes_rep = doc_shingles(rep_docs, text_col, id_col, k).groupBy(
            "id"
        ).agg(F.count(F.lit(1)).alias("set_size"))
        qual = (
            groups.filter(F.col("id") == F.col("rep"))
            .filter(F.col("g") >= 2)
            .select("id")
            .join(sizes_rep, "id", "left_semi")
            .withColumn("jaccard", F.round(F.lit(1.0), 6))
        )
        if threshold > 1.0:
            qual = qual.filter(F.lit(False))
        within = _within_group_pairs(qual, copies, "jaccard")
        return cross.unionByName(within)
    # shingle ONCE and cache: signatures, the verify self-join's two
    # branches, and the set sizes all read the same (id, shingle) frame
    # (uncached, shingling — the CPU-heavy stage — would run 4x).
    # Session-lifetime cache by design (CacheManager dedupes same-plan
    # persists; clearCache() between pipelines on long-lived sessions).
    # MATERIALIZED EAGERLY: the consumers execute as concurrent
    # broadcast subqueries, and a lazy persist lets each racing job
    # recompute the shingle chain before any publishes the cache.
    sh = tracked_persist(doc_shingles(df, text_col, id_col, k))
    sig = minhash_signatures(
        df, text_col, id_col, k, n_perm, seed, _shingles=sh
    )
    # the candidate relation feeds BOTH verify joins (each a separate
    # broadcast subquery): persist+materialize so banding runs once —
    # its size is the LSH-bounded pair count, never n^2
    cand = tracked_persist(lsh_candidates(sig, n_bands, n_perm // n_bands))
    # one row per doc, consumed by BOTH jaccard divisor sides (sa/sb
    # below are two plan references — Spark does not dedupe common
    # subtrees, so unpersisted this groupBy over the cached shingle
    # relation runs twice per execution); the collapse branch's
    # sizes_rep probe resolves to this same cached plan
    sizes = tracked_persist(
        sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    )
    # ONE materialization job populates the whole nested chain (sh is
    # an ancestor of cand, so this count caches both) BEFORE the
    # racing subquery consumers launch; sizes then materializes from
    # the sh cache in a second, near-free job.  (A single union-count
    # barrier over cand+sizes was A/B-measured WORSE — cold 20.2 vs
    # 15.2 s, warm 4.4 vs 2.3 s — because the union's two legs execute
    # concurrently within the barrier job itself and each recomputes
    # the not-yet-published sh chain: the race the barrier exists to
    # prevent.  Sequential counts keep the chain computed exactly
    # once.)
    cand.count()
    sizes.count()
    # PAIR-DRIVEN exact verify (round-9 rewrite, measured 2.2x faster
    # warm at sf0.1 — 3.4s vs 7.4s — identical output): expand each
    # candidate pair by id_a's shingles (keyed join on the doc id),
    # then keep the rows id_b also holds (keyed join on (id_b,
    # shingle)).  Work is sum over candidate pairs of |sh(a)| probe
    # rows — LSH already bounded the pair count.  The previous
    # shingle-driven self-join (sh x sh on shingle, then semi-join to
    # cand) paid C^2 rows for every shingle shared by C candidate
    # docs BEFORE the pair prune — a quadratic hot-shingle magnet the
    # df-cap pattern doesn't cover here.
    a_sh = sh.select(F.col("id").alias("id_a"), "shingle")
    b_sh = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    return _project_jaccard(inter.join(sa, "id_a").join(sb, "id_b"), threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int | None = None,  # DEPRECATED: every round checkpoints
    stats: dict | None = None,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(id, cluster) for every node in the pair graph; cluster = min id
    reachable in the component.

    Iterative min-label propagation WITH pointer jumping: each round
    every node takes the min of (its own label, its neighbors' labels,
    the round-start label OF that min) — the label-of-label "jump"
    contracts pointer chains, so rounds needed drop from the graph
    diameter d to O(log d) on chain-shaped components (near-dup
    clusters are shallow — typical data converges in 2-3 rounds either
    way; the jump is insurance against pathological chains at scale).
    Per round: one edge join + one groupBy + one join against the
    previous (materialized) label set.

    The input pair relation is pinned with one eager ``localCheckpoint``
    up front: ``edges`` traverses it twice (both orientations) and every
    round traverses ``edges``, so without the pin the upstream pipeline
    (e.g. the full MinHash candidate+verify DAG) would re-execute
    per-orientation inside round 1's job — measured 2-3x the whole
    operator's cost at sf0.01.

    Cost per round is ONE materializing action: the changed-label flag
    is computed inside the propagate projection itself (labels are
    monotone non-increasing, so ``new < old`` IS the change test — no
    new-vs-old join), the round is pinned with an eager
    ``localCheckpoint`` (which also truncates lineage so analysis time
    stays flat), and the convergence count is then a near-free scan of
    the just-materialized blocks rather than a second full compute.

    Raises ``RuntimeError`` if the loop exits without converging
    (diameter > max_iter): under-propagated labels SPLIT a true
    component into several reported clusters, which at production scale
    is a silent-correctness hazard.

    Round-count diagnostics: pass ``stats={}`` and read
    ``stats["rounds"]`` after the call — per-call state, so concurrent
    pipelines in one driver cannot clobber each other's reading (the
    pointer-jump O(log d) test pins the bound through this).  The
    former ``connected_components.last_rounds`` mirror attribute was
    REMOVED in round 10: shared mutable function state raced between
    concurrent pipelines, and the per-call dict covers every use.
    """
    if checkpoint_every is not None:
        import warnings

        warnings.warn(
            "connected_components(checkpoint_every=...) is deprecated and "
            "ignored: every round localCheckpoints (lineage truncation is "
            "what keeps per-round analysis time flat)",
            DeprecationWarning,
            stacklevel=2,
        )

    def _free_ckpt(frame):
        # the persisted blocks belong to the LogicalRDD behind the
        # checkpointed frame (toRdd() would build a fresh pipeline RDD
        # that holds no storage).  Spark 4.1's analyzed plan for a
        # localCheckpoint result is a bare LogicalRDD with a
        # py4j-visible rdd(); if a future Spark wraps it, freeing is
        # best-effort — fall back to GC rather than break the operator.
        try:
            frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass

    pairs_ck = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    # Small-graph fast path (guide §5: a bounded, size-gated driver
    # step beats an iterative distributed loop whose every round is a
    # fixed-overhead job).  The edge count is a near-free scan of the
    # just-materialized checkpoint; below the cap the propagation is a
    # driver union-find over an EXPLICITLY BOUNDED relation (<= cap
    # edges, ~100k rows = a few MB — the sanctioned small-state
    # collect), producing the identical (id, cluster=min reachable id)
    # labelling.  Above the cap — a 100 TB ingest whose batch near-dup
    # graph is genuinely large — the distributed O(log d)
    # pointer-jumping loop below runs unchanged.  ``driver_max_edges=0``
    # forces the distributed path (tests pin its round bound /
    # non-convergence contract through this).
    if driver_max_edges is None:
        driver_max_edges = int(
            os.environ.get("FFIEC_PQ_CC_DRIVER_MAX_EDGES", "100000")
        )
    if driver_max_edges > 0 and pairs_ck.count() <= driver_max_edges:
        try:
            rows = pairs_ck.collect()
        finally:
            _free_ckpt(pairs_ck)
        parent: dict = {}

        def _find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        nodes = set()
        for r in rows:
            a, b = r[0], r[1]
            nodes.add(a)
            nodes.add(b)
            ra, rb = _find(a), _find(b)
            if ra != rb:
                # union by min id: the root IS the component min, the
                # exact label algebra of the distributed loop
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        if stats is not None:
            stats["rounds"] = 0
        # nullability matches the distributed loop's output exactly
        # (its left joins yield nullable fields) so callers see one
        # schema regardless of which path ran
        id_type = pairs_ck.schema["src"].dataType
        schema = T.StructType(
            [
                T.StructField("id", id_type, True),
                T.StructField("cluster", id_type, True),
            ]
        )
        # Arrow-backed local relation, NOT createDataFrame(list): the
        # labelling is scanned by several consumers per query, and the
        # pickled-RDD scan launched 32 Python-worker tasks each time
        # (profiled round 16: ~7 s of task time per scan of a 152-row
        # labelling inside dedup_clusters_incremental's warm fold).
        from ffiec_pq_spark.session import local_frame

        return local_frame(
            pairs.sparkSession, [(n, _find(n)) for n in sorted(nodes)], schema
        )
    edges = (
        pairs_ck.unionByName(
            pairs_ck.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
        .cache()
    )
    converged = False
    rounds = 0
    prev_ckpt = None
    # try/finally: a failed round's Spark job must not leak the edges
    # cache, the pairs checkpoint blocks, or the previous round's
    # checkpoint RDD on the executors for the session lifetime
    try:
        for _ in range(max_iter):
            rounds += 1
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("cluster").alias("nb_min"))
            )
            prop = labels.join(
                neighbor_min, labels.id == neighbor_min.src, "left"
            ).select(
                "id",
                F.col("cluster").alias("_old"),
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("nb_min"), F.col("cluster")),
                ).alias("_c1"),
            )
            # pointer jump: label-of-label against the round-start labels.
            # _c1 always names a node in the same component (it is some
            # node's current label), labels only decrease, and changed==0
            # still implies the pure-propagation fixpoint (nb_min >= label
            # for every node), which alone forces label == component min —
            # so the jump can only accelerate, never corrupt.  Left join:
            # every _c1 is a node id, but stay total under hostile input.
            lref = labels.select(
                F.col("id").alias("_jid"), F.col("cluster").alias("_jc")
            )
            new_cluster = F.least(
                F.col("_c1"), F.coalesce(F.col("_jc"), F.col("_c1"))
            )
            proposed = prop.join(lref, prop._c1 == lref._jid, "left").select(
                "id",
                new_cluster.alias("cluster"),
                (new_cluster < F.col("_old")).cast("long").alias("_chg"),
            )
            # the round's single full compute; also truncates lineage
            proposed = proposed.localCheckpoint(eager=True)
            changed = proposed.agg(F.sum("_chg")).first()[0]
            # free the PREVIOUS round's storage now that this round is
            # materialized: round 1 drops the cached seed labels; later
            # rounds must release the prior checkpoint's RDD blocks
            # explicitly (unpersist() on a frame DERIVED from a
            # checkpoint is a no-op — the blocks belong to the
            # checkpointed RDD, and leaving them to GC stacks O(rounds)
            # label-set copies on the executors).  Order matters:
            # lineage is truncated, so blocks may only be freed once
            # nothing will read them again.
            if prev_ckpt is None:
                labels.unpersist()
            else:
                _free_ckpt(prev_ckpt)
            prev_ckpt = proposed
            labels = proposed.drop("_chg")
            if not changed:
                converged = True
                break
    finally:
        edges.unpersist()
        _free_ckpt(pairs_ck)
        if not converged and prev_ckpt is not None:
            # abnormal exit (exception or non-convergence): the result
            # frame will never be read, so its blocks are releasable too
            _free_ckpt(prev_ckpt)
        if stats is not None:
            stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(graph diameter exceeds max_iter); raise max_iter — returning "
            "partial labels would silently split clusters"
        )
    return labels


def dedup_cluster_summary(comp: DataFrame) -> DataFrame:
    """One row per duplicate cluster from a component labelling
    ``(id, cluster)``: (cluster_rep, n_members, member_ids sorted
    array) — the keep-one-representative step after any near-dup pair
    finder.  Takes the labels rather than raw pairs so one
    ``connected_components`` run can feed both this summary and the
    keep-best selection without recomputing the propagation
    (certified through the ``dedup_clusters`` registry query)."""
    return comp.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sort_array(F.collect_list("id")).alias("member_ids"),
    ).select(
        F.col("cluster").alias("cluster_rep"), "n_members", "member_ids"
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 60,
    hash_fn=hash60,
) -> DataFrame:
    """60-bit SimHash per doc: (id, simhash long).

    Token-level: hash each distinct token, sum +1/-1 per bit position in
    one grouped pass (n_bits conditional-sum aggregates), then assemble
    the sign bits into an integer.  60 bits keeps the result positive in
    signed-64 on both Spark and the SQL oracle.
    """
    from ffiec_pq_spark.session import spread

    tok = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    ).select("id", hash_fn(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    assembled = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long") * F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        assembled = term if assembled is None else assembled + term
    return agg.select("id", assembled.alias("simhash"))


def dup_components_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """(id, cluster) duplicate-component membership, computed on
    DISTINCT content: the label-propagation graph is built from
    representative-level near-dup pairs (one node per distinct text),
    then membership expands back to every copy.

    Running components on the EXPANDED pair graph is the hidden
    quadratic of a dedup pipeline: d-way duplicated corpora inflate
    each clique's edge count by d², and every propagation round pays
    it.  At rep level the graph is duplication-invariant.  The label
    algebra survives the collapse exactly: ``rep = min(copy ids)``, so
    ``min id reachable in the expanded graph = min rep reachable in
    the rep graph`` — the naive recursive-CTE oracle proves it.

    Reps with >= 2 identical copies and a non-empty shingle set are
    cliques among their own copies even without any cross-content
    edge, so they enter as singleton components labeled by their rep
    (empty-shingle docs produce no signature and never pair — matching
    the naive pipeline, they stay out).
    """
    from ffiec_pq_spark.resident import tracked_persist

    # no barrier needed here: minhash_near_dups' internal eager
    # materialization (cand.count()) executes at BUILD time and groups
    # is an ancestor of its shingle chain, so the cache is populated
    # before any racing consumer launches
    groups = tracked_persist(_content_groups(df, text_col, id_col))
    rep_ids = groups.filter(F.col("id") == F.col("rep")).select("id", "g")
    rep_docs = df.join(
        rep_ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    rep_pairs = minhash_near_dups(
        rep_docs, text_col, id_col, k, n_perm, n_bands, threshold, seed,
        collapse_exact=False,
    )
    comp_rep = connected_components(rep_pairs)
    nonempty = doc_set_sizes(rep_docs, text_col, id_col, k).filter(
        F.col("set_size") > 0
    ).select("id")
    solo = (
        rep_ids.filter(F.col("g") >= 2)
        .join(nonempty, "id", "left_semi")
        .join(comp_rep.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("cluster"))
    )
    rep_cluster = comp_rep.unionByName(solo)
    return (
        groups.select("id", "rep")
        .join(rep_cluster.select(F.col("id").alias("rep"), "cluster"), "rep")
        .select("id", "cluster")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity join via PPJoin-style prefix filtering —
    the scale alternative to the df-cap that changes NO semantics.

    Order every document's shingles by the canonical global order
    (document frequency ASC, shingle ASC — rarest first); with
    ``|d|`` distinct shingles, index only the PREFIX of size
    ``|d| - ceil(t·|d|) + 1``.  Two documents with Jaccard >= t must
    share at least one prefix shingle (the standard prefix-filter
    lemma), so candidates come from a prefix-to-prefix equi-join whose
    keys are, by construction, the RAREST shingles — the inverted
    index never fans out on stopword-like keys, which is exactly what
    the df-cap bounds by dropping data.  Candidates verify with the
    full exact intersection; output == the naive all-pairs join.

    Exact-duplicate collapse is built in (same algebra as
    :func:`jaccard_pairs`): rep-level prefix join + expansion, with
    within-group pairs scoring exactly 1.0 (>= any t <= 1) when the
    shingle set is non-empty.  ``threshold`` must be exactly
    representable in binary (0.5, 0.25, ...) so the ceil() prefix-size
    boundary is engine-exact.
    """
    from pyspark.sql import Window

    from ffiec_pq_spark.resident import tracked_persist

    groups = tracked_persist(_content_groups(df, text_col, id_col))
    rep_ids = groups.filter(F.col("id") == F.col("rep")).select("id", "g")
    rep_docs = df.join(
        rep_ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    sh = tracked_persist(doc_shingles(rep_docs, text_col, id_col, k))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sh.join(dfreq, "shingle").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("_df", "shingle")
        ),
    )
    prefix_n = F.col("set_size") - F.ceil(
        F.lit(float(threshold)) * F.col("set_size")
    ) + 1
    prefix = (
        ranked.join(sizes, "id")
        .filter(F.col("_rn") <= prefix_n)
        .select("id", "shingle")
    )
    cand = (
        prefix.select(F.col("id").alias("id_a"), "shingle")
        .join(prefix.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # per-candidate exact intersection WITHOUT re-running the full
    # shingle self-join (that would resurrect the stopword fan-out the
    # prefix filter exists to avoid): expand each candidate by doc A's
    # shingles, then equi-join on (id_b, shingle) — fan-out is the
    # intersection itself, every stage keyed
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    rep_pairs = _project_jaccard(
        inter.join(sa, "id_a").join(sb, "id_b"), threshold
    )
    copies = groups.select("rep", "id")
    cross = _expand_rep_pairs(rep_pairs, copies, "jaccard")
    qual = (
        rep_ids.filter(F.col("g") >= 2)
        .join(sizes.filter(F.col("set_size") > 0), "id", "left_semi")
        .select("id", F.lit(1.0).alias("jaccard"))
    )
    within = _within_group_pairs(qual, copies, "jaccard")
    return cross.unionByName(within)


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 60,
    n_bands: int = 6,
    max_hamming: int = 5,
    hash_fn=hash60,
) -> DataFrame:
    """SimHash Hamming near-dup join: pairs (id_a < id_b, hamming) with
    ``hamming <= max_hamming`` over the ``n_bits`` fingerprints.

    Candidates by bit-banding: the fingerprint splits into ``n_bands``
    contiguous slices; two fingerprints within ``max_hamming <=
    n_bands - 1`` differing bits must share at least one identical
    band (pigeonhole), so the candidate join is an equi-join on
    (band index, band value) and the exact popcount verifies only
    candidates — never an all-pairs XOR.

    Exact-duplicate collapse (house pattern): identical content means
    identical fingerprints, so banding/verification run on distinct
    content and pairs expand back to copies; within-group pairs have
    Hamming 0 whenever the doc tokenizes to >= 1 token (an empty token
    set yields no fingerprint row and no pairs, matching the naive
    join the SQL oracle runs).
    """
    from ffiec_pq_spark.resident import tracked_persist

    assert max_hamming <= n_bands - 1, "pigeonhole guarantee needs h <= bands-1"
    band_w = n_bits // n_bands
    groups = tracked_persist(_content_groups(df, text_col, id_col))
    rep_ids = groups.filter(F.col("id") == F.col("rep")).select("id", "g")
    rep_docs = df.join(
        rep_ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    # lazy by measurement (round-15 eager-barrier A/B at sf0.1:
    # identical stage counts with and without a count() barrier — the
    # consumers here do not race-recompute the simhash chain)
    sims = tracked_persist(simhash(rep_docs, text_col, id_col, n_bits, hash_fn))
    bands = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_w)
                        .bitwiseAND(F.lit((1 << band_w) - 1))
                        .alias("bval"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bval")
    l = bands.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("_sa"), "band", "bval"
    )
    r = bands.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("_sb"), "band", "bval"
    )
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    rep_pairs = (
        l.join(r, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    copies = groups.select("rep", "id")
    cross = _expand_rep_pairs(rep_pairs, copies, "hamming")
    qual = (
        rep_ids.filter(F.col("g") >= 2)
        .join(sims.select("id"), "id", "left_semi")
        .select("id", F.lit(0).cast("long").alias("hamming"))
    )
    within = _within_group_pairs(qual, copies, "hamming")
    return cross.unionByName(within)
