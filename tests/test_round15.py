"""Round-15 contracts: significance + attribution views.

The strict cross-engine value certification is the driver gate
(scripts/driver_check.py); these pin the operator-level invariants the
oracle can't see — the degeneracy rationale for McNemar-on-correctness,
the ablation/calibration cross-query consistency, and the keyness
over-representation contract."""

import pyspark.sql.functions as F

from ffiec_pq_spark.catalog import queries
from ffiec_pq_spark.plans.audit import physical_plan


def test_mcnemar_keep_decisions_are_degenerate(spark, sf_dir):
    """The docstring's claim, asserted: equal keep budgets make the
    keep-vs-keep discordant counts EQUAL for every pair (b = c — a
    useless test), which is why the query tests correctness
    indicators instead."""
    from ffiec_pq_spark.queries.round13c import _gated_frame

    g = _gated_frame(spark, sf_dir)
    for a, b in (("g_h", "g_p"), ("g_h", "g_k"), ("g_p", "g_k")):
        r = g.agg(
            F.sum((F.col(a) & ~F.col(b)).cast("long")).alias("ba"),
            F.sum((F.col(b) & ~F.col(a)).cast("long")).alias("cb"),
        ).collect()[0]
        assert r["ba"] == r["cb"], (a, b, tuple(r))


def test_mcnemar_statistic_consistent(spark, sf_dir):
    """chi2_micro reproduces from the reported discordant counts, and
    discordants never exceed the population."""
    rows = queries()["gate_mcnemar_accuracy"](spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        b, c = r["n_only_a"], r["n_only_b"]
        assert 0 <= b + c <= r["n"]
        if b + c == 0:
            assert r["mcnemar_chi2_micro"] is None
        else:
            assert r["mcnemar_chi2_micro"] == (
                1_000_000 * (b - c) * (b - c)
            ) // (b + c)


def test_ablation_full_arm_matches_calibration_rung(spark, sf_dir):
    """The 'full' arm IS gate_ensemble_calibration's thr_pct=20 rung:
    same population, same statistics, same budget — the two views must
    agree on n_total / n_kept / pos_kept exactly."""
    cal = {
        r["thr_pct"]: r
        for r in queries()["gate_ensemble_calibration"](
            spark, sf_dir
        ).collect()
    }
    abl = {
        r["arm"]: r
        for r in queries()["gate_ensemble_ablation"](spark, sf_dir).collect()
    }
    assert set(abl) == {"full", "drop_quality", "drop_probe", "drop_kn"}
    full, rung = abl["full"], cal[20]
    assert full["n_total"] == rung["n_total"]
    assert full["n_kept"] == rung["n_kept"]
    assert full["pos_kept"] == rung["pos_kept"]


def test_ablation_zeroed_feature_weight_is_zero(spark, sf_dir):
    """Zeroing a feature's statistics keeps its GD weight at exactly 0
    while the other weights follow the ablated recursion — the claim
    that makes stats-zeroing equal to retraining without the
    feature."""
    from ffiec_pq_spark.operators.linear_probe import probe_fit_int
    from ffiec_pq_spark.queries.round14 import (
        _ENS_DIM,
        _ens_population,
        _ens_stats,
    )

    a, b, n = _ens_stats(_ens_population(spark, sf_dir))
    for k in (1, 2, 3):
        az = [
            [0 if (i == k or j == k) else a[i][j] for j in range(_ENS_DIM)]
            for i in range(_ENS_DIM)
        ]
        bz = [0 if i == k else b[i] for i in range(_ENS_DIM)]
        w = probe_fit_int(az, bz, n)
        assert w[k] == 0, (k, w)


def test_keyness_over_representation_and_rank_contract(spark, sf_dir):
    """Every reported term is genuinely OVER-represented in its source
    (cnt_src/n_src > cnt_rest/n_rest via ad > bc), ranks are 1..5
    dense per source, and the chi2 reproduces from the counts."""
    rows = queries()["source_keyness_terms"](spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["rnk"])
        assert r["cnt_src"] >= 1 and r["keyness_chi2"] > 0
    for src, rnks in by_src.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), (src, rnks)
        assert len(rnks) <= 5


def test_round15_plan_shapes(spark, sf_dir):
    """mcnemar: resident-checkpoint scan + 3-group rollup, no
    cartesian beyond nothing (no crossJoin at all); ablation: ONE
    (_pid, arm)-keyed rank window, 1-row budget broadcast, no
    cartesian; keyness: source-keyed rank window, no cartesian."""
    plan = physical_plan(queries()["gate_mcnemar_accuracy"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan

    plan = physical_plan(queries()["gate_ensemble_ablation"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("row_number() windowspecdefinition(_pid") == 1, plan

    plan = physical_plan(queries()["source_keyness_terms"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition(source" in plan, plan


def test_probe_reliability_equi_depth_deciles(spark, sf_dir):
    """Deciles are dense 1..10 (population permitting), sizes are
    equi-depth (differ by at most 1), and totals reconcile with the
    probe population."""
    from ffiec_pq_spark.queries.round12b import probe_corpus

    rows = queries()["probe_margin_reliability"](spark, sf_dir).collect()
    n_pop = probe_corpus(spark, sf_dir).count()
    assert sum(r["n"] for r in rows) == n_pop
    deciles = sorted(r["decile"] for r in rows)
    assert deciles == list(range(1, len(deciles) + 1))
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1, sizes
    for r in rows:
        assert 0 <= r["n_pos"] <= r["n"]


def test_tracked_persist_cleared_by_registry(spark, sf_dir):
    """tracked_persist puts per-query persists under the governance
    registry: the reference is visible in resident_state_report and
    clear_all_resident_state unpersists it (storageLevel reverts to
    NONE)."""
    from ffiec_pq_spark.resident import (
        _TRACKED_PERSISTS,
        resident_state_report,
        tracked_persist,
    )

    df = tracked_persist(spark.range(100).selectExpr("id", "id * 2 AS v"))
    df.count()
    assert df.storageLevel.useMemory
    assert resident_state_report()["query_persists"]["entries"] >= 1
    _TRACKED_PERSISTS.clear()
    assert not df.storageLevel.useMemory
    assert len(_TRACKED_PERSISTS) == 0
