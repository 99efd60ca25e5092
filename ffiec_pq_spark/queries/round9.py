"""Round-9 queries:

- ``eval_exactsubstr_contamination`` — substring-level eval-set
  decontamination (the eval-vs-train member of the ExactSubstr family:
  "is any benchmark answer string pasted verbatim into the training
  corpus?");
- ``docs_exactsubstr_cleaned`` — the ExactSubstr REMOVAL transform
  (the step that produces the deduplicated corpus);
- ``docs_stratified_sample`` — the per-stratum deterministic sampler;
- ``docs_nb_lang_confusion`` — a trainable Naive-Bayes classifier
  filter (CCNet/fastText lineage) with exact integer-scaled
  log-likelihoods;
- ``stream_neardup_compacted`` — the streaming near-dup fold WITH
  mid-stream band-state compaction (certifies that compaction commutes
  with the set-union state fold, against the round-8 query's oracle).

All strict-oracle certified: each DuckDB SQL replays the identical
pipeline (portable md5-prefix hashes, same k-gram anchoring and
gaps-and-islands run extension, same integer micro-nat scaling), so
results are verified bit-for-bit, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffiec_pq_spark.catalog import register
from ffiec_pq_spark.functions.hashing import hash60_sql
from ffiec_pq_spark.operators.exactsubstr import exact_substring_contamination
from ffiec_pq_spark.session import load_table

# Same anchor knobs as the corpus-internal ExactSubstr queries
# (queries/round8.py): k=8-token grams.
_ES_K = 8

# Deterministic eval/train split of the documents table: content-keyed
# on doc_id so the same doc always lands on the same side (the split
# itself is the certified train_eval_split semantics — here a modulus
# keeps the oracle SQL trivial and the eval side ~10%).
_EVAL_MOD = 10
_EVAL_RESIDUE = 7


def _contamination_oracle(k: int) -> str:
    """Stage-for-stage DuckDB replay of
    :func:`exact_substring_contamination` over the modulus split:
    eval-side positional k-gram hashes, train side reduced to DISTINCT
    hashes, anchors = eval positions whose hash occurs in train, then
    the shared gaps-and-islands run extension and per-doc rollup."""
    w = "string_split_regex(trim(text), '\\s+')"
    gl = (
        f"CASE WHEN len({w}) < {k} THEN []::VARCHAR[] "
        f"ELSE list_transform(generate_series(1, len({w}) - {k - 1}), "
        f"i -> array_to_string(list_slice({w}, i, i + {k - 1}), ' ')) END"
    )
    split = f"doc_id % {_EVAL_MOD} = {_EVAL_RESIDUE}"
    return f"""
    WITH ev_g AS (
      SELECT id, generate_subscripts(gl, 1) AS pos, unnest(gl) AS gram
      FROM (SELECT doc_id AS id, {gl} AS gl FROM documents WHERE {split})
    ),
    ev AS (SELECT id, pos, {hash60_sql('gram')} AS h FROM ev_g),
    tr_g AS (
      SELECT unnest(gl) AS gram
      FROM (SELECT {gl} AS gl FROM documents WHERE NOT ({split}))
    ),
    tr_h AS (SELECT DISTINCT {hash60_sql('gram')} AS h FROM tr_g),
    anch AS (SELECT id, pos FROM ev JOIN tr_h USING (h)),
    flg AS (
      SELECT id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos)
                       <= {k}
                  THEN 0 ELSE 1 END AS brk
      FROM anch
    ),
    reg AS (
      SELECT id, pos,
             sum(brk) OVER (PARTITION BY id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS rid
      FROM flg
    ),
    spans AS (
      SELECT id, min(pos) AS span_start,
             max(pos) + {k - 1} - min(pos) + 1 AS span_tokens
      FROM reg GROUP BY id, rid
    ),
    per_doc AS (
      -- sum(BIGINT) is HUGEINT in DuckDB; pin back to BIGINT so the
      -- driver's typed value-hash matches Spark's long
      SELECT id, sum(span_tokens)::BIGINT AS contaminated_tokens,
             count(*) AS n_spans
      FROM spans GROUP BY id
    )
    SELECT d.doc_id,
           len(string_split_regex(trim(d.text), '\\s+')) AS n_tokens,
           p.contaminated_tokens,
           p.n_spans,
           round(p.contaminated_tokens
                 / greatest(len(string_split_regex(trim(d.text), '\\s+')), 1),
                 6) AS contamination_rate
    FROM documents d JOIN per_doc p ON p.id = d.doc_id
    WHERE {split}
    """


@register(
    "eval_exactsubstr_contamination",
    _contamination_oracle(_ES_K),
    tags=["dedup", "exactsubstr", "decontamination"],
)
def eval_exactsubstr_contamination(spark, sf_dir):
    """Substring-level eval-set decontamination: eval docs (a stable
    ~10% modulus split of ``documents``) carrying >= 1 verbatim k-token
    run that appears ANYWHERE in the train split, as (doc_id, n_tokens,
    contaminated_tokens, n_spans, contamination_rate).  Unlike the
    shingle-overlap report (``contamination_overlap``, order-free SET
    overlap), this finds CONTIGUOUS >= k-token verbatim runs — a pasted
    benchmark answer trips it even when the documents are otherwise
    unrelated.

    Scale shape (operators/exactsubstr.py): train side is reduced to
    DISTINCT gram hashes BEFORE the semi-join (one map-side-combined
    aggregate — the join probes |train vocab|, never |train positions|),
    anchors ride one keyed semi-join on the 60-bit hash, run extension
    is one per-doc window.  Never all-pairs, never a cross-corpus scan
    per eval doc; the plan-pin test forbids cartesian/BNLJ/
    single-partition regressions."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % _EVAL_MOD) == _EVAL_RESIDUE
    return exact_substring_contamination(
        docs.filter(is_eval), docs.filter(~is_eval), k=_ES_K
    ).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "contaminated_tokens",
        "n_spans",
        "contamination_rate",
    )


def _cleaned_oracle() -> str:
    """Replay of :func:`exact_substring_cleaned`: the shared corpus
    anchor/span CTEs (queries/round8.py — identical k and
    min_occurrences), then positional removal via NOT EXISTS against
    the span intervals and an ordered string_agg rebuild."""
    from ffiec_pq_spark.queries.round8 import _ES_K as K8
    from ffiec_pq_spark.queries.round8 import _exactsubstr_anchor_cte

    assert K8 == _ES_K
    return f"""
    WITH {_exactsubstr_anchor_cte(_ES_K)},
    tok AS (
      SELECT id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok
      FROM (SELECT doc_id AS id,
                   string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    kept AS (
      SELECT t.id, t.pos, t.tok
      FROM tok t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.id = t.id AND t.pos BETWEEN s.span_start AND s.span_end
      )
    ),
    kc AS (
      SELECT id, count(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY id
    )
    SELECT d.doc_id,
           len(string_split_regex(trim(d.text), '\\s+')) AS n_tokens,
           coalesce(kc.kept_tokens, 0) AS kept_tokens,
           len(string_split_regex(trim(d.text), '\\s+'))
             - coalesce(kc.kept_tokens, 0) AS removed_tokens,
           coalesce(kc.cleaned_text, '') AS cleaned_text
    FROM documents d LEFT JOIN kc ON kc.id = d.doc_id
    """


@register(
    "docs_exactsubstr_cleaned",
    _cleaned_oracle(),
    tags=["dedup", "exactsubstr"],
)
def docs_exactsubstr_cleaned(spark, sf_dir):
    """The ExactSubstr REMOVAL transform: every document with its
    duplicated (>= 2 occurrences corpus-wide) token regions stripped —
    (doc_id, n_tokens, kept_tokens, removed_tokens, cleaned_text), a
    total function of the corpus (clean docs pass through).  This is
    the step that actually PRODUCES the deduplicated training corpus;
    the spans/dup_rate queries are its audit views.  Strip policy and
    scale shape: operator docstring (operators/exactsubstr.py) — span
    relation compacts to one (id, spans) row per flagged doc, joins
    back KEYED on doc id, removal is a narrow higher-order filter over
    the token array; no |positions|-sized explode through the join."""
    from ffiec_pq_spark.operators.exactsubstr import exact_substring_cleaned
    from ffiec_pq_spark.queries.round8 import _ES_MIN_OCC

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_cleaned(
        docs, k=_ES_K, min_occurrences=_ES_MIN_OCC
    ).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "kept_tokens",
        "removed_tokens",
        "cleaned_text",
    )


# Per-language sampling rates: keep ALL of the rarest class, downsample
# the dominant one, and exercise the default-rate path for the
# unnamed strata ('es', 'de').
_STRATA_RATES = {"en": 0.3, "zh": 1.0, "fr": 0.8}
_STRATA_DEFAULT = 0.5


def _stratified_oracle() -> str:
    from ffiec_pq_spark.operators.sampling import _BUCKETS, _gate_buckets

    arms = "\n                ".join(
        f"WHEN '{lang}' THEN {_gate_buckets(rate)}"
        for lang, rate in sorted(_STRATA_RATES.items())
    )
    return f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ({hash60_sql('doc_id')} % {_BUCKETS}) <
          CASE lang
                {arms}
                ELSE {_gate_buckets(_STRATA_DEFAULT)} END
    """


@register(
    "docs_stratified_sample",
    _stratified_oracle(),
    tags=["sampling", "curation"],
)
def docs_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling: each language is hash-gate
    sampled at its OWN rate (keep all of the rare class, downsample the
    dominant one, default rate for unnamed strata) — the class-rebalance
    step of a curation pipeline, fully reproducible on any engine /
    partitioning / day because membership is a pure function of the
    content key (operators/sampling.py docstring).  Pure column
    expressions: one scan, no shuffle, prunable."""
    from ffiec_pq_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        key_col="doc_id",
        strata_col="lang",
        rates=_STRATA_RATES,
        default_rate=_STRATA_DEFAULT,
    ).select("doc_id", "lang", "source")


# --- Naive-Bayes language classifier (trainable classifier filter) ---
#
# The classifier-based curation filter of the CCNet/fastText lineage,
# expressed relationally: train multinomial NB token likelihoods on a
# stable modulus split, score the held-out docs, report the confusion
# matrix.  All log-likelihoods are scaled to INTEGER micro-nats BEFORE
# summation (round(ln(p) * 1e6)::BIGINT), so per-doc scores are exact
# integer sums — order-independent, hash-identical across engines —
# and the argmax cannot flip on a parallel-summation ulp.  Ties break
# to the alphabetically-first class on both engines.
#
# ACCEPTED libm RISK: the micro-nat scaling itself calls ln() on both
# engines, and IEEE 754 does not pin ln()'s last ulp — a cross-libm
# divergence at an exact 0.5 micro-nat boundary would shift one model
# weight by 1 and could flip a near-tie argmax.  This is accepted
# here (unlike the banding design curve, which avoids libm entirely)
# because NB weights are ln of RATIONAL counts (c+1)/(cl+v) — the
# probability of such a quotient's ln landing within one double ulp
# of a 5e-7 boundary is ~1e-9 per weight — and because both engines
# on this platform resolve to the same system libm.  The libm-free
# alternative (integer count ratios via the banding-curve chain
# trick) cannot express ln without a series expansion, which would
# trade a measure-zero risk for a real precision cliff.

_NB_LANGS = ["de", "en", "es", "fr", "zh"]
_NB_TEST_MOD = 5  # doc_id % 5 == 0 -> test (~20%), else train
_NB_SCALE = 1_000_000


def _nb_pred_cte_sql() -> str:
    """Shared oracle prefix: the CTE chain ``train .. pred`` where
    ``pred`` carries (doc_id, actual, predicted, t_<lang> integer
    micro-nat scores).  The confusion / kappa / margin-reliability
    oracles each append their own final SELECT over ``pred`` (see
    queries/round9b.py for the two consumers added after the confusion
    matrix was certified)."""
    langs = _NB_LANGS
    ctl = ",\n             ".join(
        f"sum(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS c_{L}"
        for L in langs
    )
    cl = ",\n             ".join(
        f"sum(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS cl_{L}"
        for L in langs
    )
    nd = ",\n             ".join(
        f"sum(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS nd_{L}"
        for L in langs
    )
    ll = ",\n             ".join(
        f"CAST(round(ln((m.c_{L} + 1) / (s.cl_{L} + s.v)) * {_NB_SCALE}) "
        f"AS BIGINT) AS ll_{L}"
        for L in langs
    )
    un = ",\n           ".join(
        f"CAST(round(ln(1.0 / (cl_{L} + v)) * {_NB_SCALE}) AS BIGINT) "
        f"AS un_{L}"
        for L in langs
    )
    pri = ",\n           ".join(
        f"CAST(round(ln(CAST(nd_{L} AS DOUBLE) / nd) * {_NB_SCALE}) "
        f"AS BIGINT) AS pr_{L}"
        for L in langs
    )
    sums = ",\n             ".join(
        f"sum(coalesce(m.ll_{L}, u.un_{L})) AS s_{L}" for L in langs
    )
    tot = ",\n           ".join(
        f"t.s_{L} + p.pr_{L} AS t_{L}" for L in langs
    )
    # first class (alphabetical) whose score is >= all others wins
    pred_arms = "\n                ".join(
        "WHEN "
        + " AND ".join(f"t_{L} >= t_{R}" for R in langs if R != L)
        + f" THEN '{L}'"
        for L in langs
    )
    tcols = ", ".join(f"t_{L}" for L in langs)
    return f"""
    WITH train AS (
      SELECT doc_id, lang, text FROM documents
      WHERE doc_id % {_NB_TEST_MOD} <> 0
    ),
    test AS (
      SELECT doc_id, lang, text FROM documents
      WHERE doc_id % {_NB_TEST_MOD} = 0
    ),
    tok_tr AS (
      SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM train
    ),
    ctl AS (
      SELECT tok,
             {ctl}
      FROM tok_tr GROUP BY tok
    ),
    scal AS (
      SELECT count(DISTINCT tok) AS v,
             {cl}
      FROM tok_tr
    ),
    model AS (
      SELECT m.tok,
             {ll}
      FROM ctl m CROSS JOIN scal s
    ),
    unseen AS (
      SELECT {un}
      FROM scal
    ),
    priors AS (
      SELECT {pri}
      FROM (SELECT count(*) AS nd,
                   {nd}
            FROM train)
    ),
    tok_te AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM test
    ),
    doc_sums AS (
      SELECT t.doc_id, t.lang,
             {sums}
      FROM tok_te t
      LEFT JOIN model m ON m.tok = t.tok
      CROSS JOIN unseen u
      GROUP BY t.doc_id, t.lang
    ),
    scored AS (
      SELECT t.doc_id, t.lang AS actual,
           {tot}
      FROM doc_sums t CROSS JOIN priors p
    ),
    pred AS (
      SELECT doc_id, actual, {tcols},
             CASE
                {pred_arms}
             END AS predicted
      FROM scored
    )
    """


def _nb_confusion_oracle() -> str:
    return (
        _nb_pred_cte_sql()
        + """
    SELECT actual, predicted, count(*) AS n
    FROM pred GROUP BY actual, predicted
    """
    )


@register(
    "docs_nb_lang_confusion",
    _nb_confusion_oracle(),
    tags=["quality", "classifier", "curation"],
)
def docs_nb_lang_confusion(spark, sf_dir):
    """Trainable classifier-based curation filter (CCNet/fastText
    lineage), relationally: multinomial Naive Bayes with Laplace
    smoothing trained on the ~80% modulus split's token counts, scoring
    the held-out 20%, reported as the (actual, predicted, n) confusion
    matrix — the go/no-go artifact before deploying a learned filter
    over a corpus.

    Float discipline: every log-likelihood is scaled to integer
    micro-nats (round(ln(p)*1e6) as BIGINT) BEFORE summation, so doc
    scores are exact integer sums — order-independent under Spark's
    parallel aggregation and hash-identical to the sequential DuckDB
    replay; argmax ties break to the alphabetically-first class via an
    identical comparison chain on both engines.

    Scale shape: training is two grouped aggregates over the exploded
    token stream (map-side combined, keyed on the token — natural Zipf
    skew only); the model joins the test token stream KEYED on the
    token with the tiny scalar relations (vocab size, class totals,
    priors, unseen fallbacks) broadcast; per-doc score is one grouped
    integer sum.  No all-pairs, no driver-side model materialization —
    the model stays a distributed relation, which is what makes this
    shape work when the vocabulary is 100M hashed n-grams instead of
    60k tokens."""
    scored = nb_scored_predictions(spark, sf_dir)
    return scored.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )


def nb_scored_predictions(spark, sf_dir):
    """Shared NB scorer: (doc_id, actual, t_<lang> integer micro-nat
    scores, predicted) for the held-out test split — the relation the
    confusion matrix, Cohen's-kappa agreement, and margin-reliability
    queries all aggregate.  Scale shape documented on
    :func:`docs_nb_lang_confusion`."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    from ffiec_pq_spark.operators.text import tokens

    langs = _NB_LANGS
    is_test = (F.col("doc_id") % _NB_TEST_MOD) == 0
    train = docs.filter(~is_test)
    test = docs.filter(is_test)

    tok_tr = train.select(
        "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    ctl = tok_tr.groupBy("tok").agg(
        *[
            F.sum(F.when(F.col("lang") == L, 1).otherwise(0)).alias(f"c_{L}")
            for L in langs
        ]
    )
    scal = tok_tr.agg(
        F.countDistinct("tok").alias("v"),
        *[
            F.sum(F.when(F.col("lang") == L, 1).otherwise(0)).alias(f"cl_{L}")
            for L in langs
        ],
    )

    def _ll_int(expr):
        return F.round(F.log(expr) * _NB_SCALE, 0).cast("long")

    model = ctl.crossJoin(F.broadcast(scal)).select(
        "tok",
        *[
            _ll_int(
                (F.col(f"c_{L}") + 1) / (F.col(f"cl_{L}") + F.col("v"))
            ).alias(f"ll_{L}")
            for L in langs
        ],
    )
    unseen = scal.select(
        *[
            _ll_int(F.lit(1.0) / (F.col(f"cl_{L}") + F.col("v"))).alias(
                f"un_{L}"
            )
            for L in langs
        ]
    )
    priors = train.agg(
        F.count(F.lit(1)).alias("nd"),
        *[
            F.sum(F.when(F.col("lang") == L, 1).otherwise(0)).alias(f"nd_{L}")
            for L in langs
        ],
    ).select(
        *[
            _ll_int(F.col(f"nd_{L}").cast("double") / F.col("nd")).alias(
                f"pr_{L}"
            )
            for L in langs
        ]
    )

    tok_te = test.select(
        "doc_id",
        F.col("lang").alias("actual"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    doc_sums = (
        tok_te.join(model, "tok", "left")
        .crossJoin(F.broadcast(unseen))
        .groupBy("doc_id", "actual")
        .agg(
            *[
                F.sum(F.coalesce(F.col(f"ll_{L}"), F.col(f"un_{L}"))).alias(
                    f"s_{L}"
                )
                for L in langs
            ]
        )
    )
    scored = doc_sums.crossJoin(F.broadcast(priors)).select(
        "doc_id",
        "actual",
        *[
            (F.col(f"s_{L}") + F.col(f"pr_{L}")).alias(f"t_{L}")
            for L in langs
        ],
    )
    pred = None
    for L in langs:
        cond = None
        for R in langs:
            if R == L:
                continue
            c = F.col(f"t_{L}") >= F.col(f"t_{R}")
            cond = c if cond is None else (cond & c)
        pred = (
            F.when(cond, F.lit(L))
            if pred is None
            else pred.when(cond, F.lit(L))
        )
    return scored.withColumn("predicted", pred)


def _compacted_oracle() -> str:
    """The compacted variant drains the SAME answer as the uncompacted
    fold: reuse its batch-replay oracle verbatim (set-union state is
    invariant under compaction and batch sizing)."""
    from ffiec_pq_spark.queries.round8 import _stream_neardup_oracle

    return _stream_neardup_oracle()


@register(
    "stream_neardup_compacted",
    _compacted_oracle(),
    tags=["streaming", "dedup", "approx", "maintenance"],
)
def stream_neardup_compacted(spark, sf_dir):
    """Streaming MinHash-LSH near-dup WITH mid-stream state compaction —
    the deploy-shape maintenance step ``stream_minhash_neardup``'s
    docstring names: the parquet band-state fold appends one file per
    micro-batch, so a long-lived stream periodically COMPACTS the band
    relation (read + eagerly pin + rewrite as one file) between
    triggers.  Because the fold is a pure associative SET UNION,
    compaction commutes with it — this query RUNS the compaction after
    every second micro-batch and still drains the exact batch LSH
    answer (same oracle as the uncompacted query), certifying the
    claim rather than asserting it in prose.

    Mechanics: ``foreachBatch`` calls are strictly sequential, so the
    compactor materializes the current state with an eager
    ``localCheckpoint`` (safe to delete the files it was read from),
    clears the directory, and rewrites the pinned rows as a single
    file; the next trigger appends to the compacted dir.  At scale the
    same step is a maintenance job over the state store's band
    relation; file count after the drain is bounded by the compaction
    interval instead of the trigger count."""
    from ffiec_pq_spark.streaming.neardup import run_neardup_stream

    return run_neardup_stream(
        spark,
        sf_dir,
        compact_every=2,
        name="neardup_compact",
    )
