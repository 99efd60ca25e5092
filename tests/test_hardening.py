"""Round-2 hardening pins: exact sessionize boundary math, deep-chain
connected components with lineage truncation, the hot-label guard on
the within-partition cosine path, and the UDF-free item-name caser."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_sessionize_subsecond_boundary(spark):
    """Gap EXACTLY 30 min -> same session; one microsecond over -> new
    session.  Double-cast subtraction gets this wrong at representation
    boundaries; unix_micros long arithmetic is exact."""
    from ffiec_pq_spark.operators.windows import sessionize

    rows = [
        ("u1", _ts("2024-01-01 00:00:00")),
        ("u1", _ts("2024-01-01 00:30:00")),          # gap == 1800s: same
        ("u1", _ts("2024-01-01 01:00:00.000001")),   # gap 1800.000001s: new
        ("u2", _ts("2024-01-01 00:00:00.500000")),
        ("u2", _ts("2024-01-01 00:30:00.499999")),   # 1799.999999s: same
        ("u2", _ts("2024-01-01 00:30:00.500001")),   # 0.000002s: same
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {
        (r["user_id"], r["session_id"]): r
        for r in sessionize(df, key="user_id", ts_col="ts").collect()
    }
    assert set(out) == {("u1", 1), ("u1", 2), ("u2", 1)}
    assert out[("u1", 1)]["n_events"] == 2
    assert out[("u1", 1)]["duration_sec"] == 1800.0
    assert out[("u1", 2)]["n_events"] == 1
    assert out[("u2", 1)]["n_events"] == 3
    assert out[("u2", 1)]["duration_sec"] == 1800.000001


def test_connected_components_deep_chain(spark):
    """A 31-node path graph (diameter 30) exceeds one iteration's reach
    many times over: exercises the localCheckpoint lineage truncation
    and still converges to a single min-labeled cluster."""
    from ffiec_pq_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    labels = connected_components(pairs, max_iter=40, driver_max_edges=0)
    got = {r["id"]: r["cluster"] for r in labels.collect()}
    assert got == {i: 0 for i in range(31)}


def test_connected_components_pointer_jump_round_bound(spark):
    """Pins the pointer-jump win: a 64-node chain (diameter 63) must
    converge in O(log d) rounds — the label-of-label jump roughly
    doubles propagation reach per round, so ~log2(64)=6 reach rounds
    plus the change-detection round.  The pre-jump linear propagation
    needed ~63 rounds here; a bound of 9 fails that code decisively
    while leaving slack over the theoretical 7."""
    from ffiec_pq_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    stats: dict = {}
    labels = connected_components(pairs, max_iter=70, stats=stats, driver_max_edges=0)
    got = {r["id"]: r["cluster"] for r in labels.collect()}
    assert got == {i: 0 for i in range(64)}
    # per-call stats dict: the ONLY round-count surface (the shared
    # last_rounds function attribute was removed in round 10 — two
    # concurrent pipelines raced on it)
    assert stats["rounds"] <= 9, (
        f"pointer jumping regressed: {stats['rounds']} "
        "rounds for a 64-node chain (O(log d) expected)"
    )
    assert not hasattr(connected_components, "last_rounds")


def test_connected_components_nonconvergence_raises(spark):
    """Exiting the loop un-converged must raise, not silently return
    partial labels (wrong clusters at scale)."""
    from ffiec_pq_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=3, driver_max_edges=0)


def test_connected_components_driver_fast_path_equivalence(spark):
    """The size-gated driver union-find (round 15) must produce the
    exact labelling of the distributed pointer-jumping loop — same
    (id, cluster=min reachable id) rows, same schema — and report
    rounds=0 so callers can tell which path ran."""
    from ffiec_pq_spark.operators.dedup import connected_components

    # two chains, one triangle, one isolated edge; shuffled ids
    edges = (
        [(i, i + 1) for i in range(0, 6)]
        + [(100, 101), (101, 102), (102, 100)]
        + [(50, 40)]
        + [(7, 9), (9, 8)]
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    st_fast: dict = {}
    fast = connected_components(pairs, stats=st_fast)  # default cap >> 12
    st_dist: dict = {}
    dist = connected_components(
        pairs, stats=st_dist, driver_max_edges=0
    )
    assert st_fast["rounds"] == 0 and st_dist["rounds"] >= 1
    assert fast.schema == dist.schema, (fast.schema, dist.schema)
    f = {(r["id"], r["cluster"]) for r in fast.collect()}
    d = {(r["id"], r["cluster"]) for r in dist.collect()}
    assert f == d
    # the cap is exact: edge count above it must take the loop
    st: dict = {}
    connected_components(pairs, stats=st, driver_max_edges=len(edges) - 1)
    assert st["rounds"] >= 1


def test_connected_components_checkpoint_every_deprecated(spark):
    """checkpoint_every is dead (every round checkpoints now): passing
    it must warn, not be silently ignored."""
    from ffiec_pq_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.warns(DeprecationWarning, match="checkpoint_every"):
        connected_components(pairs, max_iter=5, checkpoint_every=2, driver_max_edges=0)


def _embedding(seed: int, dim: int = 8) -> list[float]:
    vals = []
    x = (seed + 1) * 2654435761 % (2**31 - 1)
    for _ in range(dim):
        x = (x * 1103515245 + 12345) % (2**31)
        vals.append((x / float(2**30)) - 1.0)
    return vals


def test_cosine_pairs_hot_label_guard(spark):
    """One label holding half the rows is rerouted through the LSH
    candidate path: small labels stay exact, the hot label returns a
    subset of its exact pairs, every returned score is above threshold,
    and no exact self-join of the hot label appears in the plan."""
    from ffiec_pq_spark.operators.similarity import cosine_pairs_within

    dim, rows = 8, []
    for i in range(40):  # hot label: half the corpus
        rows.append(("hot", i, _embedding(i, dim)))
    for i in range(40, 60):
        rows.append(("a", i, _embedding(i, dim)))
    for i in range(60, 80):
        rows.append(("b", i, _embedding(i, dim)))
    df = spark.createDataFrame(
        rows, "label string, vec_id long, embedding array<double>"
    )
    exact = {
        (r["part"], r["id_a"], r["id_b"]): r["score"]
        for r in cosine_pairs_within(
            df, part_col="label", threshold=0.5
        ).collect()
    }
    guarded = {
        (r["part"], r["id_a"], r["id_b"]): r["score"]
        for r in cosine_pairs_within(
            df,
            part_col="label",
            threshold=0.5,
            max_group_size=25,
            dim=dim,
            n_planes=6,
        ).collect()
    }
    # guard returns only true pairs, at identical scores
    for key, score in guarded.items():
        assert key in exact
        assert score == exact[key]
        assert score >= 0.5
    # small labels are bit-for-bit the exact result
    for key in exact:
        if key[0] != "hot":
            assert key in guarded
    # the hot label still surfaces near-dups (recall > 0 via multi-probe)
    assert any(k[0] == "hot" for k in guarded)


@pytest.mark.parametrize(
    "name",
    [
        "stream_hourly_rollup",
        "stream_dedup_pairs",
        "stream_interval_join",
        "ffiec_etl_end_to_end",
    ],
)
def test_side_effectful_queries_idempotent(name, spark, sf_dir):
    """Queries that create sinks / work dirs must return the same row
    count on a second invocation in the same session (no leaked state,
    no sink-name collision, no tempdir accumulation)."""
    from ffiec_pq_spark import catalog

    q = catalog.queries()[name]
    first = q(spark, sf_dir).count()
    second = q(spark, sf_dir).count()
    assert first == second and first > 0


def test_repair_crlf_member_not_mangled():
    """A WELL-FORMED member with CRLF line endings must pass through the
    repair path untouched: before the CRLF normalization fix, each line
    kept a trailing \\r, fix_extra_tabs no longer saw the trailing tab
    delimiter, and every row got spurious merged-field treatment plus a
    false 'tab-repair' tag."""
    from ffiec_pq_spark.sources.tsv import repair_member_text

    rows = [
        "IDRSSD\tRCON2200\tTEXT4545\t",
        "ID\tDeposits\tComment\t",
        "1001\t500\tnote one\t",
        "1002\t600\tnote two\t",
    ]
    crlf_text = "\r\n".join(rows) + "\r\n"
    repaired, tags = repair_member_text(crlf_text, expected_cols=3)
    assert tags == []
    assert repaired == "\n".join(rows) + "\n"


def test_repair_crlf_member_with_embedded_newline():
    """CRLF member where one field contains an embedded newline: the
    newline-join repair fires, the rows still parse to the expected
    field count, and no spurious tab repair happens."""
    from ffiec_pq_spark.sources.tsv import repair_member_text

    text = (
        "IDRSSD\tRCON2200\tTEXT4545\t\r\n"
        "ID\tDeposits\tComment\t\r\n"
        "1001\t500\tnote broken\r\nacross lines\t\r\n"
        "1002\t600\tfine\t\r\n"
    )
    repaired, tags = repair_member_text(text, expected_cols=3)
    assert tags == ["newline-gsub"]
    lines = [ln for ln in repaired.split("\n") if ln]
    assert len(lines) == 4
    assert lines[2] == "1001\t500\tnote broken across lines\t"


def test_fix_extra_tabs_preserves_trailing_delimiter():
    from ffiec_pq_spark.sources.tsv import fix_extra_tabs

    # well-formed row with trailing tab: untouched
    assert fix_extra_tabs("1\ta\tb\t", 3) == "1\ta\tb\t"
    # one stray tab inside the last field: merged with a space
    assert fix_extra_tabs("1\ta\tb\tc\t", 3) == "1\ta\tb c\t"


def test_compact_parquet_dir(spark, tmp_path):
    """Many small files fold into few balanced ones with zero row loss."""
    from ffiec_pq_spark.sources.parquet import compact_parquet_dir

    src = str(tmp_path / "frags")
    spark.range(10_000).withColumn("v", F.col("id") * 2).repartition(
        40
    ).write.parquet(src)
    stats = compact_parquet_dir(spark, src, target_file_bytes=1 << 30)
    assert stats["files_before"] >= 40
    assert stats["files_after"] == 1
    df = spark.read.parquet(src)
    assert df.count() == 10_000
    assert df.agg(F.sum("v")).collect()[0][0] == 10_000 * 9_999


def test_fix_item_name_case_col_matches_python(spark):
    """The chained-regexp_replace column form must agree with the Python
    reference implementation on every edge case."""
    from ffiec_pq_spark.sources.dictionary import (
        fix_item_name_case,
        fix_item_name_case_col,
    )

    samples = [
        None,
        "",
        "   ",
        "TOTAL ASSETS",
        "ffiec 031 schedule rc-e deposits",
        "non-u.s. addressees and MBS held",
        "tier 1 capital (cecl) for ihcs",
        "Amounts Due From FNMA, fhlmc and gnma",
        "u.s. treasury securities",
        "NON-U.S. ADDRESSEES",
        "keogh plan accounts, iras and mmdas",
        "schedule rc-q fair value",
        "puerto rico and federal reserve items",
        "remics and cmos under gaap",
        "mmda accounts (mmdas) in u.s. offices",
        "\ttotal assets",          # tab padding: F.trim would miss it
        "total liabilities\n",
        "  total equity\r",
        "\xa0nbsp padded name\xa0",  # NBSP: stripped by str.strip()
    ]
    df = spark.createDataFrame([(s,) for s in samples], "name string")
    got = [
        r[0] for r in df.select(fix_item_name_case_col(F.col("name"))).collect()
    ]
    want = [fix_item_name_case(s) for s in samples]
    assert got == want


def test_zscore_giant_group_fallback(spark):
    """A 90%-skewed key above max_group_rows must (a) produce the same
    z-scores as the all-pandas path at the rounding digit and (b) plan
    NO pandas stage for the hot group (JVM moments + broadcast join)."""
    from ffiec_pq_spark.operators.normalize import zscore_by_group

    rows = [(i, "hot" if i < 900 else f"s{i % 4}", float((i * 37) % 1000))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, seg string, v double")

    plain = {
        r["id"]: r["z"]
        for r in zscore_by_group(df, "seg", "v", "id").collect()
    }
    guarded_df = zscore_by_group(df, "seg", "v", "id", max_group_rows=500)
    guarded = {r["id"]: r["z"] for r in guarded_df.collect()}
    assert guarded.keys() == plain.keys()
    for k in plain:
        assert guarded[k] == pytest.approx(plain[k], abs=1e-4), k

    # the hot branch is the union's second leg: assert the full plan has
    # exactly ONE FlatMapGroupsInPandas (small groups), so the hot group
    # never crosses into Python
    plan = guarded_df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_cosine_pairs_lsh_with_id_col_named_id(spark):
    """id_col='id' must survive the LSH reroute: the signature frame's
    own 'id' column is aliased before the join, so drop() can no longer
    remove the caller's column along with it."""
    from ffiec_pq_spark.operators.similarity import cosine_pairs_within

    dim = 8
    rows = [("hot", i, _embedding(i, dim)) for i in range(30)]
    df = spark.createDataFrame(
        rows, "label string, id long, embedding array<double>"
    )
    got = cosine_pairs_within(
        df,
        part_col="label",
        threshold=0.5,
        id_col="id",
        max_group_size=10,  # everything reroutes through _pairs_lsh
        dim=dim,
        n_planes=6,
    ).collect()
    assert all(r["id_a"] < r["id_b"] and r["score"] >= 0.5 for r in got)


def test_compact_parquet_dir_schema_drift(spark, tmp_path):
    """A dir grown by appends with EVOLVED schemas must compact to the
    merged schema (mergeSchema read), not silently adopt one file's
    columns and drop the others'."""
    from ffiec_pq_spark.sources.parquet import compact_parquet_dir

    src = str(tmp_path / "drift")
    spark.range(100).withColumn("a", F.col("id") * 2).write.parquet(src)
    spark.range(100, 200).withColumn("b", F.col("id") * 3).write.mode(
        "append"
    ).parquet(src)
    compact_parquet_dir(spark, src, target_file_bytes=1 << 30)
    df = spark.read.parquet(src)
    assert set(df.columns) == {"id", "a", "b"}
    assert df.count() == 200
    assert df.filter(F.col("a").isNotNull()).count() == 100
    assert df.filter(F.col("b").isNotNull()).count() == 100


def test_balanced_sample_equalizes_strata(spark):
    """Dominant strata fall to ~the rarest stratum's size; the rare
    stratum keeps (almost) everything; membership is deterministic."""
    from ffiec_pq_spark.operators.sampling import balanced_sample

    rows = (
        [(i, "big") for i in range(1000)]
        + [(i, "mid") for i in range(1000, 1300)]
        + [(i, "rare") for i in range(1300, 1350)]
    )
    df = spark.createDataFrame(rows, "id long, cls string")
    s1 = balanced_sample(df, "id", "cls", seed=3)
    counts = {r["cls"]: r["n"] for r in
              s1.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).collect()}
    # every stratum ends within ~40% of the rare size (hash-gate noise)
    assert counts["rare"] >= 45
    for c in ("big", "mid"):
        assert 25 <= counts[c] <= 75, counts
    # deterministic: identical subset on a rerun
    ids1 = sorted(r["id"] for r in s1.select("id").collect())
    ids2 = sorted(
        r["id"]
        for r in balanced_sample(df, "id", "cls", seed=3).select("id").collect()
    )
    assert ids1 == ids2


def test_contamination_overlap_known_docs(spark):
    """Hand-built corpus: the contaminated eval doc is reported with the
    right train-doc count, the clean one is absent, and a ubiquitous
    shingle above the df-cap contributes nothing."""
    from ffiec_pq_spark.operators.dedup import contamination_overlap

    common = "the quick brown fox jumps"  # shared 3-grams w/ train 1+2
    train = [
        (1, f"{common} over the lazy dog"),
        (2, f"{common} into the cold river"),
        (3, "completely different training content here"),
    ]
    ev = [
        (100, common),                        # contaminated vs docs 1,2
        (101, "nothing shared with anything"),  # clean
    ]
    tr_df = spark.createDataFrame(train, "doc_id long, text string")
    ev_df = spark.createDataFrame(ev, "doc_id long, text string")
    got = {
        r["eval_id"]: (r["n_train_docs"], r["n_shared_shingles"])
        for r in contamination_overlap(ev_df, tr_df, k=3).collect()
    }
    # "the quick brown","quick brown fox","brown fox jumps" shared by 1+2
    assert got == {100: (2, 3)}
    # df-cap 1: every shared shingle has train-df 2 -> all dropped
    got_capped = contamination_overlap(
        ev_df, tr_df, k=3, max_shingle_df=1
    ).collect()
    assert got_capped == []


def test_pca_single_vector_matches_oracle(spark, tmp_path):
    """n<2 edge: the Spark operator returns NULL scores; the SQL oracle
    must mirror that gate instead of dividing covariance by zero."""
    import duckdb

    from ffiec_pq_spark.catalog import oracles, queries

    one = spark.createDataFrame(
        [(1, [float(i) for i in range(64)], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path / "embeddings.parquet")
    one.write.parquet(d)
    df = queries()["embedding_pca_scores"](spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["pc1_score"] is None
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/*.parquet')"
    )
    orc = con.sql(oracles()["embedding_pca_scores"]).fetchall()
    assert len(orc) == 1 and orc[0][1] is None


def test_range_join_binned_guards(spark):
    """Inverted ranges are dropped (a descending sequence would explode
    the reversed interval); a range spanning more bins than
    max_bins_per_range fails fast instead of materializing millions of
    rows."""
    import pytest as _pytest

    from ffiec_pq_spark.operators.timeseries import range_join_binned

    fact = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id long, v double")
    ranges = spark.createDataFrame(
        [(0.0, 10.0, "ok"), (20.0, 15.0, "inverted")],
        "lo double, hi double, tier string",
    )
    got = range_join_binned(fact, "v", ranges, bin_width=1.0).collect()
    assert [(r["id"], r["tier"]) for r in got] == [(1, "ok")]

    wide = spark.createDataFrame(
        [(0.0, 1e9, "huge")], "lo double, hi double, tier string"
    )
    with _pytest.raises(Exception, match="range_join_binned"):
        range_join_binned(
            fact, "v", wide, bin_width=1.0, max_bins_per_range=1000
        ).collect()


def test_sample_gate_rate_rounds_not_truncates():
    """rate=0.3: 0.3 * 10_000 is 2999.999... in binary floats — the
    cutoff must round to 3000 buckets, not truncate to 2999 (a silent
    0.01% under-sample on every such rate)."""
    from ffiec_pq_spark.operators.sampling import _gate_buckets, sample_gate_sql

    for rate, want in [(0.3, 3000), (0.1, 1000), (0.07, 700), (0.5, 5000)]:
        assert _gate_buckets(rate) == want
        assert sample_gate_sql("x", rate).endswith(f"< {want}")


def test_check_pk_and_non_null_summary(spark):
    """The driver-side audit summary (reference check_pk_and_non_null,
    R/ffiec_manifest.R:382-396): duplicate key groups + null columns
    roll up into one dict with an overall ok flag."""
    from ffiec_pq_spark.operators.checks import check_pk_and_non_null

    clean = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    )
    got = check_pk_and_non_null(clean, keys=["k"], non_null=["v"])
    assert got == {"n_dup_key_groups": 0, "null_columns": [], "ok": True}

    dirty = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None)], "k long, v string"
    )
    got = check_pk_and_non_null(dirty, keys=["k"], non_null=["v"])
    assert got["n_dup_key_groups"] == 1
    assert got["null_columns"] == [{"column": "v", "n_na": 1}]
    assert got["ok"] is False


def test_exactsubstr_gram_plans_equivalent(spark, sf_dir):
    """window / recompute / persist are three physical strategies for
    ONE logical operator: their span relations must be row-identical
    (the measurement in scripts/exactsubstr_plan_bench.py picks the
    default on speed alone; this pins that the choice is free of
    semantic drift)."""
    from ffiec_pq_spark.operators.exactsubstr import exact_substring_spans
    from ffiec_pq_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    results = {}
    for plan in ("window", "recompute", "persist"):
        rows = exact_substring_spans(docs, k=8, gram_plan=plan).collect()
        results[plan] = sorted(tuple(r) for r in rows)
    assert results["window"] == results["recompute"] == results["persist"]
    assert len(results["window"]) > 0  # sf0.001 corpus has planted dups


def test_exactsubstr_gram_plan_rejects_unknown(spark):
    import pytest as _pytest

    from ffiec_pq_spark.operators.exactsubstr import exact_substring_spans

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="gram_plan"):
        exact_substring_spans(df, gram_plan="bogus").collect()


def test_exactsubstr_cleaned_strips_exact_span(spark):
    """Crafted corpus: two docs share one verbatim 10-token paragraph;
    the cleaned output must drop exactly that span from both docs and
    leave every other token in place (k=8: the unique prefix/suffix
    tokens adjacent to the span stay — their grams mix shared and
    unique tokens only when a full k-window repeats)."""
    from ffiec_pq_spark.operators.exactsubstr import exact_substring_cleaned

    shared = " ".join(f"dup{i}" for i in range(10))
    rows = [
        (1, f"alpha beta gamma {shared} delta epsilon"),
        (2, f"zeta eta {shared} theta iota kappa"),
        (3, "plain text with no duplication at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r
        for r in exact_substring_cleaned(df, k=8, min_occurrences=2).collect()
    }
    assert got[1]["removed_tokens"] == 10
    assert got[1]["cleaned_text"] == "alpha beta gamma delta epsilon"
    assert got[2]["removed_tokens"] == 10
    assert got[2]["cleaned_text"] == "zeta eta theta iota kappa"
    assert got[3]["removed_tokens"] == 0
    assert got[3]["cleaned_text"] == "plain text with no duplication at all"
    for r in got.values():
        assert r["kept_tokens"] + r["removed_tokens"] == r["n_tokens"]


def test_resident_state_clear_hooks(spark, sf_dir):
    """Every resident-builder cache exposes a working invalidation
    hook (the clearCache() convention): after clearing, the next call
    rebuilds from zero and still returns the same answer — so an
    in-place dataset rewrite has a documented, working recovery path
    instead of a silently-stale model."""
    from ffiec_pq_spark.queries import round12
    from ffiec_pq_spark.queries.dedup import (
        _CC_LABELS,
        clear_component_labels,
        component_labels,
    )
    from ffiec_pq_spark.queries.round9c import (
        _IVFPQ_MODELS,
        clear_ivfpq_models,
    )
    from ffiec_pq_spark.queries.similarity import (
        _PCA_MODELS,
        clear_pca_models,
    )

    before = component_labels(spark, sf_dir).count()
    assert _CC_LABELS
    clear_component_labels()
    assert not _CC_LABELS
    assert component_labels(spark, sf_dir).count() == before

    st = round12._inc_corpus_state(spark, sf_dir)
    n_cq = st["cq"].count()
    assert round12._INC_STATE
    round12.clear_incremental_state()
    assert not round12._INC_STATE
    assert round12._inc_corpus_state(spark, sf_dir)["cq"].count() == n_cq

    # model memos: clearing empties the dict (rebuild exercised by the
    # registry queries themselves; these are driver-side lists, so an
    # empty dict IS a from-zero retrain on next use)
    clear_ivfpq_models()
    assert not _IVFPQ_MODELS
    clear_pca_models()
    assert not _PCA_MODELS

    # round-12 second wave: the maintained BM25 indexes (state dirs on
    # disk — clearing must also remove them), the bounded near-dup's
    # drained relation, and the probe weights
    import os

    from ffiec_pq_spark.queries import round11, round12b

    n_idx = round12b.stream_bm25_index_fold(spark, sf_dir).count()
    (bm25_st,) = round12b._BM25_STREAM_STATE.values()
    wd = bm25_st["workdir"]
    assert os.path.isdir(wd)
    round12b.clear_bm25_stream_state()
    assert not round12b._BM25_STREAM_STATE and not os.path.isdir(wd)
    assert round12b.stream_bm25_index_fold(spark, sf_dir).count() == n_idx

    n_del = round12b.stream_bm25_delete_fold(spark, sf_dir).count()
    assert round12b._BM25_DEL_STATE
    round12b.clear_bm25_delete_state()
    assert not round12b._BM25_DEL_STATE
    assert round12b.stream_bm25_delete_fold(spark, sf_dir).count() == n_del

    n_nd = round11.stream_minhash_neardup_bounded(spark, sf_dir).count()
    assert round11._BOUNDED_NEARDUP_RUNS
    round11.clear_bounded_neardup_state()
    assert not round11._BOUNDED_NEARDUP_RUNS
    assert (
        round11.stream_minhash_neardup_bounded(spark, sf_dir).count()
        == n_nd
    )

    round12b.clear_probe_models()
    assert not round12b._PROBE_MODELS


def test_local_frame_without_spark_context():
    """A Spark Connect session has no ``sparkContext``: local_frame must
    return the Arrow-built frame uncoalesced instead of raising."""
    import pandas as pd
    from pyspark.errors import PySparkAttributeError
    from pyspark.sql import types as T

    from ffiec_pq_spark.session import local_frame

    class _Frame:
        def coalesce(self, n):
            raise AssertionError("coalesced without a SparkContext")

    class _Conf:
        def get(self, key, default=None):
            return "true"

    class _ConnectLikeSession:
        conf = _Conf()

        def __init__(self):
            self.created = []

        def createDataFrame(self, data, schema):
            self.created.append(data)
            return frame

        def __getattr__(self, name):
            # what a Spark Connect session raises for JVM-only attributes
            raise PySparkAttributeError(
                errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                messageParameters={"attr_name": name},
            )

    frame = _Frame()
    session = _ConnectLikeSession()
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]
    )
    got = local_frame(session, [(1, "a"), (2, "b")], schema)
    assert got is frame
    # the Arrow (pandas) path was taken, not the pickled-list fallback
    assert len(session.created) == 1
    assert isinstance(session.created[0], pd.DataFrame)
