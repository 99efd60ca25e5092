"""Deduplication queries over the ``documents`` table — exact, n-gram
Jaccard, MinHash+LSH, SimHash — every one oracle-checked (the MinHash
and SimHash pipelines are reproduced in pure SQL using the portable
md5-prefix hash, so even the approximate paths are verified
cross-engine bit-for-bit)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.resident import Memo
from ffiec_pq_spark.functions.hashing import hash60_sql
from ffiec_pq_spark.operators.dedup import (
    MINHASH_PRIME,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_near_dups,
    perm_params,
    simhash,
)
from ffiec_pq_spark.operators.text import shingles_sql
from ffiec_pq_spark.session import dataset_key, load_table

_P = MINHASH_PRIME
_N_PERM = 32
_N_BANDS = 8
_ROWS_PER_BAND = _N_PERM // _N_BANDS
_K = 3
_THRESHOLD = 0.2

def _shingle_cte(source: str = "documents") -> str:
    """The shingle CTE over ``source`` (default: the documents view;
    the retraction oracle passes a filtered subquery)."""
    return f"""
    sh AS (
      SELECT doc_id AS id,
             unnest(list_distinct({shingles_sql('text', _K)})) AS shingle
      FROM {source}
    )"""


_SHINGLE_CTE = _shingle_cte()

_SIZES_CTE = "sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id)"


# Resident duplicate-component labellings per dataset_key(spark,
# sf_dir): the (id, cluster) relation is the shared substrate of every
# cluster consumer (cluster summary, keep-best selection, leakage-safe
# split), and rebuilding the O(log d) pointer-jumping propagation per
# consumer paid the most expensive dedup stage twice per session
# (round-11 verdict).  A localCheckpoint is session-bound state, hence
# the application id in the key (unlike the driver-side model memos).
_CC_LABELS = Memo("component_labels")


def component_labels(spark, sf_dir):
    """Build-or-fetch the near-dup component labelling ``(id,
    cluster)`` for ``sf_dir`` at the registry's LSH parameters — ONE
    labelling per (session, dataset), pinned off its lineage with an
    eager ``localCheckpoint`` so later consumers add only their own
    plan on top (a join, an aggregate) instead of replaying the
    pointer-jumping rounds.  RDD checkpoint blocks survive
    ``spark.catalog.clearCache()`` (they are not InMemoryRelations),
    matching the other resident builders' isolation behavior."""
    from ffiec_pq_spark.operators.dedup import dup_components_collapsed

    return _CC_LABELS.get_or_build(
        dataset_key(spark, sf_dir),
        lambda: dup_components_collapsed(
            load_table(spark, sf_dir, "documents"),
            k=_K, n_perm=_N_PERM, n_bands=_N_BANDS, threshold=_THRESHOLD,
        ).localCheckpoint(eager=True),
    )


_DECON_MAX_DF = 50


@register(
    "decontaminate_eval_overlap",
    f"""
    WITH ev AS (
      SELECT doc_id AS eval_id,
             unnest(list_distinct({shingles_sql('text', _K)})) AS shingle
      FROM documents WHERE doc_id % 10 = 0
    ),
    tr AS (
      SELECT doc_id AS train_id,
             unnest(list_distinct({shingles_sql('text', _K)})) AS shingle
      FROM documents WHERE doc_id % 10 <> 0
    ),
    keep AS (
      SELECT shingle FROM tr GROUP BY shingle
      HAVING count(*) <= {_DECON_MAX_DF}
    ),
    tr2 AS (SELECT t.* FROM tr t JOIN keep k USING (shingle))
    SELECT e.eval_id,
           count(DISTINCT t.train_id) AS n_train_docs,
           count(DISTINCT e.shingle)  AS n_shared_shingles
    FROM ev e JOIN tr2 t USING (shingle)
    GROUP BY 1
    """,
    tags=["dedup", "decontamination"],
)
def decontaminate_eval_overlap(spark, sf_dir):
    """Eval-set decontamination report: for each eval document (the
    deterministic doc_id %% 10 == 0 slice) sharing any word-3-gram with
    the remaining (train) corpus, the number of overlapping train docs
    and shared shingles — train-side shingles above document frequency
    50 are dropped first (no contamination signal, and
    they are exactly the skewed join keys).  The benchmark-leak scan of
    a training-data release, as one shingle-equi-join plan."""
    from ffiec_pq_spark.operators.dedup import contamination_overlap

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    return contamination_overlap(
        ev, tr, k=_K, max_shingle_df=_DECON_MAX_DF
    )


@register(
    "dedup_exact",
    """
    SELECT content_hash, min(doc_id) AS rep_id, count(*) AS n_copies
    FROM (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
      FROM documents
    )
    GROUP BY content_hash
    """,
    tags=["dedup"],
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized content; one shuffle with
    map-side combine — the 100 TB-safe baseline dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


_JACCARD_MAX_DF = 100


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_CTE},
    {_SIZES_CTE},
    keep AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_JACCARD_MAX_DF}
    ),
    shc AS (SELECT s.* FROM sh s JOIN keep k USING (shingle)),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common / (sa.set_size + sb.set_size - n_common) >= {_THRESHOLD}
    """,
    tags=["dedup"],
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard similarity join (explode distinct
    shingles -> self-equi-join -> group by pair), with the document-
    frequency cap registered as the DEFAULT: shingles appearing in more
    than 100 (``_JACCARD_MAX_DF``) documents are dropped before the self-join
    (set sizes stay uncapped).  Ubiquitous n-grams are exactly the
    skewed join keys that degenerate the pair fan-out quadratically on
    duplicate-heavy corpora — the cap bounds each shingle's pair
    contribution at C(100,2) while true near-dup pairs
    (df ~ copy count, far below the cap) keep their full intersection.
    The oracle mirrors the cap in its own CTE, so the capped semantics
    are hash-verified, not just faster."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(
        docs, k=_K, threshold=_THRESHOLD, max_shingle_df=_JACCARD_MAX_DF
    )


def _minhash_oracle(source: str = "documents") -> str:
    perms = perm_params(_N_PERM)
    mh_exprs = ",\n             ".join(
        f"min(({a} * (h % {_P}) + {b}) % {_P}) AS mh{i}" for i, a, b in perms
    )
    band_arms = "\n      UNION ALL\n".join(
        "      SELECT id, {bi} AS band, md5({concat}) AS bkey FROM sig".format(
            bi=bi,
            concat=" || ',' || ".join(
                f"CAST(mh{bi * _ROWS_PER_BAND + ri} AS VARCHAR)"
                for ri in range(_ROWS_PER_BAND)
            ),
        )
        for bi in range(_N_BANDS)
    )
    return f"""
    WITH {_shingle_cte(source)},
    hashed AS (SELECT id, {hash60_sql('shingle')} AS h FROM sh),
    sig AS (
      SELECT id, {mh_exprs}
      FROM hashed GROUP BY id
    ),
    bands AS (
{band_arms}
    ),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bkey = r.bkey AND l.id < r.id
    ),
    {_SIZES_CTE},
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a
      JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      JOIN cand c ON c.id_a = a.id AND c.id_b = b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common / (sa.set_size + sb.set_size - n_common) >= {_THRESHOLD}
    """


@register("dedup_minhash_lsh", _minhash_oracle(), tags=["dedup", "approx"])
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32 perms) + LSH(8 bands x 4 rows) near-dup detection with
    exact-Jaccard verification of candidates.  The oracle reproduces the
    identical pipeline in SQL via the portable hash, so banding and
    verification are checked end-to-end, not just row counts."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dups(
        docs, k=_K, n_perm=_N_PERM, n_bands=_N_BANDS, threshold=_THRESHOLD
    )


def _reach_ctes(source: str = "documents") -> str:
    """The recursive-CTE connected-components chain over the minhash
    pair pipeline (final CTE ``reach``: id -> cluster = min reachable
    id) — shared by the cluster summary, the leakage-safe split and
    (with a filtered ``source``) the retraction oracles."""
    pair_sql = _minhash_oracle(source).strip()
    return f"""pairs AS (
      {pair_sql}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      WITH RECURSIVE r(id, root) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.id
      )
      SELECT id, min(root) AS cluster FROM r GROUP BY id
    )"""


def _clusters_oracle() -> str:
    """Recursive-CTE connected components over the SAME minhash pair
    pipeline: cluster = min reachable id, summarized per cluster."""
    return f"""
    WITH {_reach_ctes()}
    SELECT cluster AS cluster_rep,
           count(*) AS n_members,
           array_to_string(list_sort(list(id)), ',') AS member_ids
    FROM reach GROUP BY cluster
    """


@register("dedup_clusters", _clusters_oracle(), tags=["dedup", "graph"])
def dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> duplicate CLUSTERS via connected components
    (iterative min-label propagation; the oracle replays it with a
    recursive CTE): one row per cluster with the min-id representative
    and sorted members — the keep-one step of a real dedup pipeline.

    The labelling comes from the shared per-(session, dataset)
    resident relation (``component_labels``): components run on the
    rep-level graph (duplication-invariant edge count) and expand
    membership to copies — the recursive-CTE oracle replays the naive
    expanded graph, proving the collapse."""
    from ffiec_pq_spark.operators.dedup import dedup_cluster_summary

    comp = component_labels(spark, sf_dir)
    out = dedup_cluster_summary(comp)
    # comma-join the member list: the driver's canonicalizer can't sort
    # array-typed columns
    return out.select(
        "cluster_rep",
        "n_members",
        F.array_join(F.col("member_ids").cast("array<string>"), ",").alias(
            "member_ids"
        ),
    )


def _simhash_oracle(n_bits: int = 60) -> str:
    bit_sums = ",\n             ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(n_bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(n_bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id AS id,
             unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
      FROM documents
    ),
    hashed AS (SELECT id, {hash60_sql('tok')} AS h FROM tok),
    bits AS (
      SELECT id, {bit_sums}
      FROM hashed GROUP BY id
    )
    SELECT id, {assemble} AS simhash FROM bits
    """


@register("dedup_simhash", _simhash_oracle(), tags=["dedup", "approx"])
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash fingerprint per document (token-level), verified
    bit-for-bit against the SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, n_bits=60)


_CAL_BANDS = 16
_CAL_RPB = 2


def _calibration_oracle() -> str:
    """MinHash signature-estimate vs exact Jaccard, on DISTINCT content
    (calibration needs each content once; identical copies would just
    repeat the same (est, exact) point and, at scale, quadratically)."""
    perms = perm_params(_N_PERM)
    mh_exprs = ",\n             ".join(
        f"min(({a} * (h % {_P}) + {b}) % {_P}) AS mh{i}" for i, a, b in perms
    )
    band_arms = "\n      UNION ALL\n".join(
        "      SELECT id, {bi} AS band, md5({concat}) AS bkey FROM sig".format(
            bi=bi,
            concat=" || ',' || ".join(
                f"CAST(mh{bi * _CAL_RPB + ri} AS VARCHAR)"
                for ri in range(_CAL_RPB)
            ),
        )
        for bi in range(_CAL_BANDS)
    )
    est_terms = " + ".join(
        f"(CASE WHEN l.mh{i} = r.mh{i} THEN 1 ELSE 0 END)" for i in range(_N_PERM)
    )
    return f"""
    WITH reps AS (
      SELECT min(doc_id) AS id
      FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
        FROM documents
      ) GROUP BY ch
    ),
    docs2 AS (
      SELECT d.doc_id AS id, d.text
      FROM documents d JOIN reps r ON r.id = d.doc_id
    ),
    sh AS (
      SELECT id, unnest(list_distinct({shingles_sql('text', _K)})) AS shingle
      FROM docs2
    ),
    hashed AS (SELECT id, {hash60_sql('shingle')} AS h FROM sh),
    sig AS (
      SELECT id, {mh_exprs}
      FROM hashed GROUP BY id
    ),
    bands AS (
{band_arms}
    ),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bkey = r.bkey AND l.id < r.id
    ),
    sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a
      JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      JOIN cand c ON c.id_a = a.id AND c.id_b = b.id
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT id_a, id_b,
             n_common / (sa.set_size + sb.set_size - n_common) AS jx
      FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
    ),
    est AS (
      SELECT c.id_a, c.id_b, ({est_terms}) / {float(_N_PERM)} AS est
      FROM cand c
      JOIN sig l ON l.id = c.id_a
      JOIN sig r ON r.id = c.id_b
    )
    SELECT CAST(floor(jx * 5) AS BIGINT) AS bucket,
           count(*) AS n_pairs,
           round(avg(abs(est - jx)), 6) AS avg_abs_err,
           round(avg(est), 6) AS avg_est,
           round(avg(jx), 6) AS avg_jaccard
    FROM ex JOIN est USING (id_a, id_b)
    GROUP BY 1
    """


@register("minhash_calibration", _calibration_oracle(), tags=["dedup", "approx"])
def minhash_calibration(spark, sf_dir):
    """MinHash accuracy audit: for every LSH candidate pair (distinct
    content only), the signature estimate (matching positions / 32) vs
    the exact Jaccard, bucketed by exact similarity (width 0.2) —
    the avg-|error| per bucket is the sizing evidence for (n_perm,
    bands) choices on a real corpus.  Estimates are exact binary
    rationals (k/32) and the bucket edges are IEEE-exact ops, so both
    engines bucket identically; only the final per-bucket averages are
    rounded."""
    from ffiec_pq_spark.operators.dedup import (
        doc_shingles,
        exact_dedup_groups,
        lsh_candidates,
        minhash_signatures,
    )

    from ffiec_pq_spark.resident import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    reps = exact_dedup_groups(docs).select(F.col("rep_id").alias("doc_id"))
    rd = docs.join(reps, "doc_id", "left_semi")
    # lazy by measurement (round-15 eager-barrier A/B at sf0.1: the
    # barrier removed 7 recompute stages but cost MORE total task CPU)
    sh = tracked_persist(doc_shingles(rd, k=_K))
    sigs = minhash_signatures(rd, k=_K, n_perm=_N_PERM, _shingles=sh)
    cands = lsh_candidates(sigs, _CAL_BANDS, _CAL_RPB)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(cands, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    jx = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    ex = inter.join(sa, "id_a").join(sb, "id_b").select("id_a", "id_b", jx.alias("jx"))
    sl = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("_sl"))
    sr = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("_sr"))
    match_k = F.aggregate(
        F.zip_with("_sl", "_sr", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = (
        cands.join(sl, "id_a")
        .join(sr, "id_b")
        .select("id_a", "id_b", (match_k / F.lit(float(_N_PERM))).alias("est"))
    )
    return (
        ex.join(est, ["id_a", "id_b"])
        .groupBy(F.floor(F.col("jx") * 5).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(F.abs(F.col("est") - F.col("jx"))), 6).alias("avg_abs_err"),
            F.round(F.avg("est"), 6).alias("avg_est"),
            F.round(F.avg("jx"), 6).alias("avg_jaccard"),
        )
    )


def _keep_best_oracle() -> str:
    """Clusters (same recursive-CTE replay as dedup_clusters) + the
    canonical-doc selection: keep the longest member, min-id tie-break."""
    pair_sql = _minhash_oracle().strip()
    return f"""
    WITH pairs AS (
      {pair_sql}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      WITH RECURSIVE r(id, root) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.id
      )
      SELECT id, min(root) AS cluster FROM r GROUP BY id
    ),
    members AS (
      SELECT r.cluster, r.id, d.n_chars,
             max(d.n_chars) OVER (PARTITION BY r.cluster) AS mc
      FROM reach r JOIN documents d ON d.doc_id = r.id
    )
    SELECT cluster AS cluster_rep,
           count(*) AS n_members,
           max(n_chars) AS keep_chars,
           min(CASE WHEN n_chars = mc THEN id END) AS keep_id
    FROM members GROUP BY cluster
    """


@register("dedup_keep_best", _keep_best_oracle(), tags=["dedup", "graph"])
def dedup_keep_best(spark, sf_dir):
    """Canonical-document selection: near-dup clusters (connected
    components over the MinHash pairs) + keep the highest-quality
    member per cluster — quality = n_chars here, min-doc_id tie-break,
    so the kept set is deterministic on any engine.  The deletion list
    a production dedup actually ships is `members - keep_id`.

    Shares the resident ``component_labels`` relation with
    dedup_clusters / docs_leakage_safe_split — this query adds one
    join + one keyed window + one aggregate over it."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    comp = component_labels(spark, sf_dir)
    members = comp.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    ).withColumn(
        "mc", F.max("n_chars").over(Window.partitionBy("cluster"))
    )
    return members.groupBy(F.col("cluster").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("n_chars").alias("keep_chars"),
        F.min(F.when(F.col("n_chars") == F.col("mc"), F.col("id"))).alias(
            "keep_id"
        ),
    )


_PREFIX_T = 0.5


@register(
    "dedup_jaccard_prefix",
    f"""
    WITH {_SHINGLE_CTE},
    {_SIZES_CTE},
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common / (sa.set_size + sb.set_size - n_common) >= {_PREFIX_T}
    """,
    tags=["dedup", "prefix-filter"],
)
def dedup_jaccard_prefix(spark, sf_dir):
    """EXACT Jaccard join (threshold 0.5) via PPJoin-style prefix
    filtering: candidates come from a prefix-to-prefix join on each
    document's RAREST ``|d| - ceil(t·|d|) + 1`` shingles (global
    df-asc order), verified with the full intersection per candidate —
    identical output to the naive all-pairs join (the oracle runs the
    naive, UNCAPPED formulation), but the inverted index never fans
    out on common shingles, so no df-cap semantic trade is needed.
    Exact-duplicate collapse built in; the prefix join's keys are
    rare by construction, the candidate verify is keyed on
    (doc, shingle)."""
    from ffiec_pq_spark.operators.dedup import jaccard_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(docs, k=_K, threshold=_PREFIX_T)


_HAMMING_MAX = 5


def _simhash_pairs_oracle() -> str:
    """Naive all-pairs Hamming join over the SimHash fingerprints — the
    banded Spark pipeline must reproduce it exactly."""
    base = _simhash_oracle().strip()
    return f"""
    WITH sims AS (
      {base}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sims a JOIN sims b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    """


@register(
    "dedup_simhash_hamming",
    _simhash_pairs_oracle(),
    tags=["dedup", "approx"],
)
def dedup_simhash_hamming(spark, sf_dir):
    """SimHash near-dup JOIN (the fingerprint op's missing half):
    pairs within Hamming distance 5 over 60-bit fingerprints,
    candidates from 6-way bit-banding (pigeonhole: <= 5 differing bits
    guarantees one identical band), popcount verification on
    candidates only, exact-duplicate collapse built in.  The oracle
    runs the naive all-pairs XOR."""
    from ffiec_pq_spark.operators.dedup import simhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dups(
        docs, n_bits=60, n_bands=6, max_hamming=_HAMMING_MAX
    )


def _ensemble_oracle() -> str:
    mh = _minhash_oracle().strip()
    sh = _simhash_pairs_oracle().strip()
    return f"""
    WITH mh AS (
      {mh}
    ),
    sh AS (
      {sh}
    )
    SELECT CASE WHEN mh.id_a IS NOT NULL AND sh.id_a IS NOT NULL THEN 'both'
                WHEN mh.id_a IS NOT NULL THEN 'minhash_only'
                ELSE 'simhash_only' END AS methods,
           count(*) AS n_pairs,
           round(avg(mh.jaccard), 6) AS avg_jaccard,
           round(avg(sh.hamming), 4) AS avg_hamming
    FROM mh FULL OUTER JOIN sh USING (id_a, id_b)
    GROUP BY 1
    """


@register(
    "dedup_ensemble_consensus",
    _ensemble_oracle(),
    tags=["dedup", "ensemble"],
)
def dedup_ensemble_consensus(spark, sf_dir):
    """Ensemble dedup audit: the MinHash+LSH (Jaccard >= 0.2) and
    SimHash (Hamming <= 5) detectors full-outer-joined on the pair key
    — per agreement class (both / minhash-only / simhash-only), pair
    counts and the mean scores.  The production question this answers:
    how much of each detector's yield is corroborated, i.e. where to
    set the keep/drop automation boundary vs human review."""
    from ffiec_pq_spark.operators.dedup import (
        _content_groups,
        doc_set_sizes,
        simhash_near_dups,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    # classify at REP level and expand the COUNTS arithmetically: the
    # individual detectors' outputs are output-sized (fine), but
    # full-outer-JOINING the two expanded pair streams would process
    # d^2-grown inputs on a d-way duplicated corpus (measured 3.3x at
    # 16x before this rewrite).  A rep pair (A, B) in class c stands
    # for |A|x|B| copy pairs with the SAME scores; a copy group of g
    # contributes C(g,2) within-pairs whose class follows from which
    # detectors fire on identical content (minhash needs a non-empty
    # shingle set, simhash a non-empty token set).  The naive
    # full-corpus oracle proves the arithmetic.
    from ffiec_pq_spark.resident import tracked_persist

    # populated at build time by minhash_near_dups' internal eager
    # count (groups is an ancestor of its shingle chain)
    groups = tracked_persist(_content_groups(docs))
    rep_ids = groups.filter(F.col("id") == F.col("rep")).select("id", "g")
    rep_docs = docs.join(
        rep_ids.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    mh = minhash_near_dups(
        rep_docs, k=_K, n_perm=_N_PERM, n_bands=_N_BANDS,
        threshold=_THRESHOLD, collapse_exact=False,
    ).select("id_a", "id_b", "jaccard")
    sh = simhash_near_dups(
        rep_docs, n_bits=60, n_bands=6, max_hamming=_HAMMING_MAX
    ).select("id_a", "id_b", "hamming")
    ga = rep_ids.select(F.col("id").alias("id_a"), F.col("g").alias("ga"))
    gb = rep_ids.select(F.col("id").alias("id_b"), F.col("g").alias("gb"))
    cross = (
        mh.join(sh, ["id_a", "id_b"], "full_outer")
        .join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "jaccard", "hamming", (F.col("ga") * F.col("gb")).alias("w")
        )
    )
    flags = rep_ids.filter(F.col("g") >= 2).join(
        doc_set_sizes(rep_docs, k=_K), "id"
    ).join(
        rep_docs.select(
            F.col("doc_id").alias("id"),
            F.size(tokens("text")).alias("n_tok"),
        ),
        "id",
    )
    within = flags.select(
        F.when(F.col("set_size") > 0, F.lit(1.0)).alias("jaccard"),
        F.when(F.col("n_tok") > 0, F.lit(0).cast("long")).alias("hamming"),
        (F.col("g") * (F.col("g") - 1) / 2).cast("long").alias("w"),
    ).filter(F.col("jaccard").isNotNull() | F.col("hamming").isNotNull())
    weighted = cross.unionByName(within)
    methods = (
        F.when(
            F.col("jaccard").isNotNull() & F.col("hamming").isNotNull(), "both"
        )
        .when(F.col("jaccard").isNotNull(), "minhash_only")
        .otherwise("simhash_only")
    )
    jw = F.when(F.col("jaccard").isNotNull(), F.col("w"))
    hw = F.when(F.col("hamming").isNotNull(), F.col("w"))
    return weighted.groupBy(methods.alias("methods")).agg(
        F.sum("w").alias("n_pairs"),
        F.round(
            F.sum(F.col("jaccard") * jw) / F.sum(jw), 6
        ).alias("avg_jaccard"),
        F.round(
            F.sum(F.col("hamming") * hw) / F.sum(hw), 4
        ).alias("avg_hamming"),
    )


# ---------------------------------------------------------------------------
# dedup_roi_curve — how aggressive should dedup be?
# ---------------------------------------------------------------------------

_ROI_THRESHOLDS = (0.2, 0.4, 0.6, 0.8, 1.0)


def _roi_sql() -> str:
    tok = r"len(string_split_regex(trim(text), '\s+'))"
    thr_list = ", ".join(str(t) for t in _ROI_THRESHOLDS)
    return f"""
    WITH {_SHINGLE_CTE},
    {_SIZES_CTE},
    keep AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_JACCARD_MAX_DF}
    ),
    shc AS (SELECT s.* FROM sh s JOIN keep k USING (shingle)),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b,
             round(n_common / (sa.set_size + sb.set_size - n_common), 6)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.set_size + sb.set_size - n_common)
            >= {_THRESHOLD}
    ),
    t AS (SELECT unnest(CAST([{thr_list}] AS DOUBLE[])) AS thr),
    ladder AS (
      SELECT t.thr, p.id_b FROM pairs p CROSS JOIN t
      WHERE p.jaccard >= t.thr
    ),
    pc AS (SELECT thr, count(*) AS n_pairs FROM ladder GROUP BY thr),
    dropped AS (SELECT DISTINCT thr, id_b FROM ladder),
    tok AS (SELECT doc_id, {tok} AS n_tok FROM documents)
    SELECT pc.thr, pc.n_pairs,
           count(*) AS n_docs_dropped,
           CAST(sum(tk.n_tok) AS BIGINT) AS tokens_dropped
    FROM pc
    JOIN dropped d ON d.thr = pc.thr
    JOIN tok tk ON tk.doc_id = d.id_b
    GROUP BY pc.thr, pc.n_pairs
    """


@register("dedup_roi_curve", _roi_sql(), tags=["dedup", "planning"])
def dedup_roi_curve(spark, sf_dir):
    """Dedup aggressiveness curve: at each Jaccard threshold rung, how
    many pairs fire, how many documents the greedy drop-the-larger-id
    rule removes, and how many tokens that saves — the
    cost/contamination trade-off a data lead reads before picking the
    production threshold (too low deletes paraphrases, too high keeps
    templates).

    Scale shape: the pair relation is the SAME df-capped,
    exact-duplicate-collapsed n-gram Jaccard join as
    ``dedup_ngram_jaccard`` (quadratic work bounded to distinct
    content within cap); the ladder is a 5-way explode of the PAIR
    relation (orders of magnitude below the corpus), and every rollup
    groups on <= 5 threshold keys.  Token costs join back on the
    dropped-doc id only."""
    from ffiec_pq_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, k=_K, threshold=_THRESHOLD, max_shingle_df=_JACCARD_MAX_DF
    )
    lad = (
        pairs.select("id_b", "jaccard")
        .withColumn(
            "thr",
            F.explode(F.array(*[F.lit(t) for t in _ROI_THRESHOLDS])),
        )
        .filter(F.col("jaccard") >= F.col("thr"))
    )
    pc = lad.groupBy("thr").agg(F.count(F.lit(1)).alias("n_pairs"))
    dropped = lad.select("thr", "id_b").distinct()
    tok = docs.select(
        F.col("doc_id").alias("id_b"), token_count("text").alias("n_tok")
    )
    dc = dropped.join(tok, "id_b").groupBy("thr").agg(
        F.count(F.lit(1)).alias("n_docs_dropped"),
        F.sum("n_tok").alias("tokens_dropped"),
    )
    return pc.join(dc, "thr")
