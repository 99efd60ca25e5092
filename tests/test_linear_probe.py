"""Linear-probe trainer: integer-recursion exactness, edge cases, the
resident-model memo, and the plan contract of the scoring pass."""

import pyspark.sql.functions as F
import pytest

from ffiec_pq_spark.catalog import queries
from ffiec_pq_spark.operators.linear_probe import (
    PROBE_D_PER_N,
    PROBE_SW,
    PROBE_SX,
    gram_moment,
    probe_fit_int,
    probe_margins,
)
from ffiec_pq_spark.plans.audit import physical_plan
from ffiec_pq_spark.session import load_table


def _naive_fit(rows, iters=5):
    """Pure-Python replay of the documented recursion, straight from
    the math (no shared code with the operator): quantize, exact sums,
    integer trunc-division steps."""
    if not rows:
        return []
    d = len(rows[0][0])
    n = len(rows)
    xq = [
        [int(round(x * PROBE_SX)) for x in vec] for vec, _ in rows
    ]
    a = [
        [
            sum(xq[r][i] * xq[r][j] for r in range(n))
            for j in range(d)
        ]
        for i in range(d)
    ]
    b = [sum(xq[r][i] * rows[r][1] for r in range(n)) for i in range(d)]
    dd = n * PROBE_D_PER_N
    w = [0] * d
    for _ in range(iters):
        g = [
            sum(a[i][j] * w[j] for j in range(d))
            - b[i] * (PROBE_SX * PROBE_SW)
            for i in range(d)
        ]
        for i in range(d):
            gi = g[i]
            w[i] -= -((-gi) // dd) if gi < 0 else gi // dd
    return w


def test_fit_matches_naive_replay(spark):
    rows = [
        ([0.5, -0.25, 0.125], 1),
        ([-0.5, 0.25, 0.0], 0),
        ([0.3, 0.3, -0.4], 1),
        ([0.01, -0.02, 0.03], 0),
        ([-0.11, 0.42, 0.09], 1),
    ]
    df = spark.createDataFrame(
        [(list(map(float, v)), y) for v, y in rows],
        "embedding array<double>, y long",
    )
    a, b, n = gram_moment(df, "embedding", "y", 3)
    assert n == 5
    assert probe_fit_int(a, b, n) == _naive_fit(rows)


def test_fit_empty_and_degenerate():
    assert probe_fit_int([], [], 0) == []
    assert probe_fit_int([[0, 0], [0, 0]], [0, 0], 0) == [0, 0]
    # all-zero vectors: Gram and moment are zero -> weights stay zero
    assert probe_fit_int([[0, 0], [0, 0]], [0, 0], 3) == [0, 0]


def test_margins_exact_integer_fold(spark):
    df = spark.createDataFrame(
        [(1, [0.001, -0.002], 1), (2, [1.0, 1.0], 0)],
        "vec_id long, embedding array<double>, y long",
    )
    out = {
        r["vec_id"]: r["margin_micro"]
        for r in probe_margins(df, "embedding", "vec_id", "y", [7, -3])
        .collect()
    }
    # xq = (1, -2) and (1000, 1000): exact int products
    assert out[1] == 1 * 7 + (-2) * (-3)
    assert out[2] == 1000 * 7 + 1000 * (-3)


def test_overflow_assert_fires():
    big = (1 << 62)
    with pytest.raises(AssertionError, match="overflow"):
        probe_fit_int([[big, big], [big, big]], [1, 1], 1)


def test_probe_model_memo_and_invalidation(spark, sf_dir):
    from ffiec_pq_spark.queries import round12b

    round12b._PROBE_MODELS.clear()
    queries()["embedding_probe_train_scores"](spark, sf_dir)
    assert len(round12b._PROBE_MODELS) == 1
    (w1,) = round12b._PROBE_MODELS.values()
    # repeat call serves the resident model (no retrain, same object)
    queries()["embedding_probe_train_scores"](spark, sf_dir)
    (w2,) = round12b._PROBE_MODELS.values()
    assert w2 is w1
    round12b._PROBE_MODELS.clear()
    assert not round12b._PROBE_MODELS


def test_probe_scoring_plan_no_onereducer_window(spark, sf_dir):
    """The keep gate must be the distributed rank (local row_number
    per range id) — single-partition exchanges only for the tiny
    offset relation (the corpus_vocab_coverage pin's contract), and
    the scoring projection joins the fact table only to broadcasts."""
    df = queries()["embedding_probe_train_scores"](spark, sf_dir)
    plan = physical_plan(df)
    assert "row_number() windowspecdefinition(_pid" in plan
    assert plan.count("Exchange SinglePartition") <= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_probe_heldout_eval_contract(spark, sf_dir):
    """The heldout eval must (a) train on a DIFFERENT memo key than the
    full-corpus probe (separate training sets can never share weights),
    (b) gate each split at its own n//10, (c) show heldout precision
    above the heldout base rate on the fixture corpus."""
    from ffiec_pq_spark.queries import round12b

    round12b._PROBE_MODELS.clear()
    out = {
        (r["split"], r["y"], r["kept"]): r["n"]
        for r in queries()["embedding_probe_heldout_eval"](
            spark, sf_dir
        ).collect()
    }
    keys = set(round12b._PROBE_MODELS)
    assert any(k[-1] == "train80" for k in keys)
    queries()["embedding_probe_train_scores"](spark, sf_dir)
    assert len(round12b._PROBE_MODELS) == 2  # independent models
    for split in ("train", "heldout"):
        n = sum(v for (s, _, _), v in out.items() if s == split)
        kept = sum(v for (s, _, k), v in out.items() if s == split and k)
        assert kept == max(n // 10, 1)
        pos_kept = out.get((split, 1, True), 0)
        base = sum(v for (s, yy, _), v in out.items() if s == split and yy)
        assert pos_kept / kept > base / n
    round12b._PROBE_MODELS.clear()


def test_probe_kept_gate_lift(spark, sf_dir):
    """The top-10% margin gate must enrich the positive class vs the
    base rate (the probe learns SOMETHING) and keep exactly n//10."""
    out = queries()["embedding_probe_train_scores"](spark, sf_dir)
    agg = (
        out.groupBy("kept")
        .agg(F.sum("y").alias("pos"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by = {r["kept"]: r for r in agg}
    n = sum(r["n"] for r in agg)
    assert by[True]["n"] == max(n // 10, 1)
    prec = by[True]["pos"] / by[True]["n"]
    base = sum(r["pos"] for r in agg) / n
    assert prec > base


def test_unlearn_subtraction_equals_fresh_stats(spark, sf_dir):
    """The unlearning path's corrected statistics (resident full-corpus
    Gram minus the deleted slice's Gram) must equal gram_moment
    computed directly on the survivors — integer sums make the
    subtraction exact, so the two routes are the same numbers, not
    approximately the same."""
    from ffiec_pq_spark.queries import round12b
    from ffiec_pq_spark.queries.round12b import (
        _DIM,
        _UNLEARN_MOD,
        _UNLEARN_SLOT,
    )
    from ffiec_pq_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    y = (F.coalesce(F.col("label"), F.lit(0)) == 0).cast("long")
    a, b, n = gram_moment(
        emb.select("embedding", y.alias("_yy")), "embedding", "_yy", _DIM
    )
    a_d, b_d, n_d = gram_moment(
        emb.filter(F.col("vec_id") % _UNLEARN_MOD == _UNLEARN_SLOT)
        .select("embedding", y.alias("_yy")),
        "embedding", "_yy", _DIM,
    )
    a_s, b_s, n_s = gram_moment(
        emb.filter(F.col("vec_id") % _UNLEARN_MOD != _UNLEARN_SLOT)
        .select("embedding", y.alias("_yy")),
        "embedding", "_yy", _DIM,
    )
    assert n - n_d == n_s and n_d > 0
    assert [bi - bdi for bi, bdi in zip(b, b_d)] == b_s
    assert [
        [a[i][j] - a_d[i][j] for j in range(_DIM)] for i in range(_DIM)
    ] == a_s
    # and the registry query's memo clears
    round12b._PROBE_STATS.clear()
    assert not round12b._PROBE_STATS


def test_margins_partial_dim_vector(spark):
    """A vector shorter than the probe folds to the PARTIAL dot
    product (missing dims contribute 0 — the oracle's subscript-join
    semantics), never a NULL margin."""
    df = spark.createDataFrame(
        [(1, [0.001]), (2, [0.001, -0.002, 0.004])],
        "vec_id long, embedding array<double>",
    ).withColumn("y", F.lit(0).cast("long"))
    out = {
        r["vec_id"]: r["margin_micro"]
        for r in probe_margins(df, "embedding", "vec_id", "y", [7, -3])
        .collect()
    }
    assert out[1] == 1 * 7  # second weight unused
    assert out[2] == 1 * 7 + (-2) * (-3)  # third dim has no weight


def test_probe_margins_expr_matches_column_formulation(spark):
    """probe_margins' generated-SQL scoring must stay exactly the
    quantize-fold the training side uses (r15 ADVICE: the two were
    separate formulations that could silently diverge; they now share
    _xq_sql, and this test pins the semantics against an INDEPENDENT
    Column-lambda rendering, including NULL vectors, short vectors and
    a backticked column name)."""
    w = [3, -2, 5]
    rows = [
        (1, [0.1, 0.2, 0.3], 1),
        (2, [1.0, -1.0], 0),       # shorter than the probe
        (3, None, 1),              # NULL vector
        (4, [0.0004, -0.0006, 2.5], None),  # round-half cases, NULL y
    ]
    df = spark.createDataFrame(rows, "id long, `e``mb` array<double>, y long")
    got = {
        r["id"]: (r["y"], r["margin_micro"])
        for r in probe_margins(df, "e`mb", "id", "y", w).collect()
    }
    w_arr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    xq = F.transform(
        F.col("`e``mb`").cast("array<double>"),
        lambda x: F.round(x * F.lit(float(PROBE_SX)), 0).cast("long"),
    )
    ref_margin = F.aggregate(
        F.zip_with(
            xq, w_arr,
            lambda x, wv: F.coalesce(x * wv, F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    ref = {
        r["id"]: (r["y"], r["m"])
        for r in df.select(
            "id",
            F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
            ref_margin.alias("m"),
        ).collect()
    }
    assert got == ref and len(got) == 4
