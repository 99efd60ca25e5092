"""Parquet scan surface (S7-S10): schema-union scan with provenance,
fail-fast glob, footer-only reads, single-file sink contract."""

import os

import pytest
from pyspark.sql import functions as F

from ffiec_pq_spark.sources.parquet import (
    list_pqs,
    pq_cols,
    pq_cols_by_type,
    scan_pqs,
    write_single_parquet,
)


@pytest.fixture(scope="module")
def pq_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pq_union")
    # two "quarters" with different column sets (schema evolution)
    q1 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "IDRSSD int, RCFD0010 double"
    )
    q2 = spark.createDataFrame(
        [(1, 200.0, "x"), (3, 300.0, "y")],
        "IDRSSD int, RCON2200 double, TEXT4545 string",
    )
    write_single_parquet(q1, str(d / "ri_20240331.parquet"))
    write_single_parquet(q2, str(d / "ri_20240630.parquet"))
    return str(d)


def test_scan_union_by_name(spark, pq_dir):
    df = scan_pqs(spark, os.path.join(pq_dir, "ri_*.parquet"))
    assert set(df.columns) == {"IDRSSD", "RCFD0010", "RCON2200", "TEXT4545"}
    rows = {(r["IDRSSD"], r["RCFD0010"], r["RCON2200"]) for r in df.collect()}
    # columns absent in a file come back NULL (union-by-name semantics)
    assert (2, 20.0, None) in rows
    assert (3, None, 300.0) in rows


def test_scan_filename_provenance(spark, pq_dir):
    df = scan_pqs(
        spark, os.path.join(pq_dir, "ri_*.parquet"), filename=True
    )
    names = {
        os.path.basename(r["filename"]).split("?")[0]
        for r in df.select("filename").distinct().collect()
    }
    assert names == {"ri_20240331.parquet", "ri_20240630.parquet"}


def test_scan_fail_fast_on_empty_glob(spark, pq_dir):
    with pytest.raises(FileNotFoundError):
        scan_pqs(spark, os.path.join(pq_dir, "nope_*.parquet"))


def test_footer_only_reads(pq_dir):
    p = os.path.join(pq_dir, "ri_20240630.parquet")
    assert pq_cols(p) == ["IDRSSD", "RCON2200", "TEXT4545"]
    by_type = pq_cols_by_type(p)
    assert by_type["double"] == ["RCON2200"]
    assert by_type["string"] == ["TEXT4545"]


def test_list_pqs_contract(pq_dir):
    got = list_pqs(pq_dir)
    assert [(r["schedule"], r["date_raw"]) for r in got] == [
        ("ri", "20240331"),
        ("ri", "20240630"),
    ]


def test_scan_schedule_by_name(spark, pq_dir):
    from ffiec_pq_spark.sources.parquet import scan_schedule

    df = scan_schedule(spark, pq_dir, "ri")
    assert df.count() == 4
    with pytest.raises(FileNotFoundError):
        scan_schedule(spark, pq_dir, "rc")


def test_single_file_sink_is_one_file(spark, pq_dir):
    # the write_single_parquet outputs above must each be a plain file,
    # not a directory (the reference's one-file-per-dataset contract)
    for f in ("ri_20240331.parquet", "ri_20240630.parquet"):
        assert os.path.isfile(os.path.join(pq_dir, f))


def test_single_file_sink_sort_by_orders_the_file(spark, tmp_path):
    """sort_by must establish the FILE row order: the sink's
    repartition(1) is a round-robin shuffle that discards any upstream
    orderBy, so a caller wanting a sorted file (the process-log
    contract) says so via sort_by and gets a local sort inside the one
    writing task.  Read back with pyarrow (no Spark reorder) and pin
    the physical order."""
    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(3, "b"), (1, "a"), (2, "c"), (1, "b"), (3, "a")],
        "k int, s string",
    ).orderBy("s")  # a decoy upstream sort the shuffle will discard
    out = str(tmp_path / "sorted.parquet")
    write_single_parquet(df, out, sort_by=["k", "s"])
    t = pq.read_table(out)
    got = list(zip(t.column("k").to_pylist(), t.column("s").to_pylist()))
    assert got == sorted(got), got


def test_zip_stats_batch_matches_member_stats(spark, tmp_path):
    """The whole-zip one-job audit batch must reproduce member_stats'
    (bad, problems) counters member-for-member — including the broken
    zip's short row and malformed numeric — and every clean member's
    slice of the shared line frame must parse to the same rows as the
    member's own extraction (the ingest parses clean members from
    that slice)."""
    from collections import Counter

    from ffiec_fixtures import TYPE_DICT, make_broken_zip, make_call_zip
    from ffiec_pq_spark.sources.tsv import (
        make_colspec,
        member_slice,
        member_stats,
        parse_schedule_lines,
        read_zip_member_header,
        zip_lines_batch,
        zip_member_lines,
        zip_stats_batch,
    )

    for builder in (make_call_zip, make_broken_zip):
        d = tmp_path / builder.__name__
        d.mkdir()
        zp = builder(str(d))
        import zipfile as _zf

        with _zf.ZipFile(zp) as z:
            members = [m for m in z.namelist() if "POR" not in m]
        colspecs = {
            m: make_colspec(read_zip_member_header(zp, m), TYPE_DICT)
            for m in members
        }
        batch = zip_stats_batch(spark, zp, colspecs)
        lines_all = zip_lines_batch(spark, zp, members)
        for m in members:
            lines = zip_member_lines(spark, zp, m, skip=2)
            expect = member_stats(lines, colspecs[m])
            assert batch[m] == expect, (builder.__name__, m, batch[m], expect)
            if expect[0] == 0:
                got = parse_schedule_lines(
                    member_slice(lines_all, m), colspecs[m]
                ).collect()
                want = parse_schedule_lines(lines, colspecs[m]).collect()
                assert Counter(got) == Counter(want), (builder.__name__, m)


def test_zip_lines_python_datasource(spark, tmp_path):
    """Spark 4 Python Data Source over the bulk zip: one input
    partition PER MEMBER (executor-parallel, no driver extraction),
    line-exact parity with a direct zipfile read, and fnmatch member
    filtering."""
    import io
    import zipfile

    from ffiec_pq_spark.sources.zip_datasource import ZipLinesDataSource
    from ffiec_pq_spark.testing.fixtures import make_call_zip

    spark.dataSource.register(ZipLinesDataSource)
    zp = make_call_zip(str(tmp_path))
    df = spark.read.format("ffiec_zip_lines").option("path", zp).load()
    assert df.rdd.getNumPartitions() == 4  # one task per member
    got = sorted(
        (r["member"], r["line_no"], r["line"]) for r in df.collect()
    )
    direct = []
    with zipfile.ZipFile(zp) as zf:
        for n in sorted(x for x in zf.namelist() if not x.endswith("/")):
            with zf.open(n) as raw:
                text = io.TextIOWrapper(raw, encoding="utf-8", errors="replace")
                for i, line in enumerate(text):
                    direct.append((n, i, line.rstrip("\r\n")))
    assert got == sorted(direct) and len(got) > 0
    ri = (
        spark.read.format("ffiec_zip_lines")
        .option("path", zp)
        .option("pattern", "*Schedule RI*")
        .load()
    )
    assert ri.select("member").distinct().count() == 2


def test_zip_datasource_pipeline_equivalence(spark, tmp_path):
    """The Python Data Source route must feed the typed TSV parser
    with EXACTLY the rows the default mapInPandas route produces: same
    member, same skip semantics, same typed values — so either scan
    can back the ETL without a semantic fork."""
    import zipfile as _zf

    from ffiec_fixtures import TYPE_DICT, make_call_zip

    from ffiec_pq_spark.sources.tsv import (
        make_colspec,
        parse_schedule_lines,
        read_zip_member_header,
        zip_member_lines,
    )
    from ffiec_pq_spark.sources.zip_datasource import ZipLinesDataSource

    spark.dataSource.register(ZipLinesDataSource)
    zp = make_call_zip(str(tmp_path))
    with _zf.ZipFile(zp) as z:
        member = next(m for m in z.namelist() if "POR" not in m)
    colspec = make_colspec(read_zip_member_header(zp, member), TYPE_DICT)

    via_mip = parse_schedule_lines(
        zip_member_lines(spark, zp, member, skip=2), colspec
    )
    ds_lines = (
        spark.read.format("ffiec_zip_lines")
        .option("path", zp)
        .load()
        .filter(F.col("member") == member)
        .filter(F.col("line_no") >= 2)  # 0-based: drops header+dict rows
        .select(F.col("line").alias("value"))
    )
    via_ds = parse_schedule_lines(ds_lines, colspec)
    assert via_ds.schema == via_mip.schema
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, via_ds.collect())) == sorted(
        map(key, via_mip.collect())
    )


# --- round-10: adversarial repair-path fuzz (S4) ---
#
# The reference repairs embedded newlines THEN extra tabs in sequence
# (R/ffeic_read.R:86-146); these tests hit repair_member_text with all
# three corruption classes COMBINED in one physical row (embedded
# newline + extra tab + CONF/"" NA tokens) instead of one-per-row as
# the pipeline fixtures do, and pin that the member audit — the exact
# relation operators/process.py folds into the process log's
# ``repairs`` column — carries both repair tags.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_FIELD_ALPHABET = "abcXYZ019. -"


def _clean_field(draw):
    s = draw(
        st.text(alphabet=_FIELD_ALPHABET, min_size=1, max_size=8).filter(
            lambda x: x.strip()
        )
    )
    return s


@given(data=st.data())
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_repair_combined_corruptions_property(data):
    """One victim row carries ALL of: an embedded newline (mid-field,
    never tab-adjacent on the left — FFIEC's trailing-tab invariant is
    what makes the join sound), one extra tab in the final free-text
    field, and CONF/"" NA tokens in other fields.  After
    repair_member_text: the text has exactly header+n_rows physical
    lines again, every row splits into exactly n_cols fields plus the
    trailing delimiter, the corrupted fields equal their originals
    with newline/tab turned into single spaces, untouched fields
    (including the NA tokens) are byte-identical, and both repair tags
    fire."""
    from ffiec_pq_spark.sources.tsv import repair_member_text

    n_cols = data.draw(st.integers(3, 6))
    n_rows = data.draw(st.integers(1, 5))
    rows = [
        [_clean_field(data.draw) for _ in range(n_cols)] for _ in range(n_rows)
    ]
    vr = data.draw(st.integers(0, n_rows - 1))

    # CONF/"" NA tokens sprinkled into the victim's NON-corrupted cells
    for j in range(1, n_cols - 2):
        if data.draw(st.booleans()):
            rows[vr][j] = data.draw(st.sampled_from(["", "CONF"]))

    # embedded newline(s): field 0, inserted at position >= 1 so the
    # newline is never preceded by a field separator tab
    base_nl = _clean_field(data.draw)
    pos = data.draw(st.integers(1, len(base_nl)))
    nl_field = base_nl[:pos] + "\n" + base_nl[pos:]
    if data.draw(st.booleans()) and len(nl_field) > pos + 1:
        pos2 = data.draw(st.integers(pos + 1, len(nl_field) - 1))
        if nl_field[pos2] != "\n":
            nl_field = nl_field[:pos2] + "\n" + nl_field[pos2:]
    rows[vr][0] = nl_field

    # extra tab: the final free-text field (the only position where
    # the width repair can reconstruct — reference semantics)
    base_tab = _clean_field(data.draw)
    tpos = data.draw(st.integers(0, len(base_tab)))
    rows[vr][n_cols - 1] = base_tab[:tpos] + "\t" + base_tab[tpos:]

    header = "\t".join(f"C{j}" for j in range(n_cols)) + "\t"
    eol = "\r\n" if data.draw(st.booleans()) else "\n"
    text = eol.join(
        [header] + ["\t".join(r) + "\t" for r in rows]
    ) + eol

    repaired, tags = repair_member_text(text, n_cols)
    assert set(tags) == {"newline-gsub", "tab-repair"}, (tags, text)

    lines = repaired.split("\n")
    assert lines[-1] == ""
    lines.pop()
    assert len(lines) == 1 + n_rows, repaired
    for i, line in enumerate(lines[1:]):
        assert line.endswith("\t"), line
        got = line[:-1].split("\t")
        want = [
            f.replace("\n", " ").replace("\t", " ") for f in rows[i]
        ]
        assert got == want, (got, want)


def test_repair_combined_row_end_to_end_audit(spark, tmp_path):
    """The combined-corruption row through the FULL S4 reader: typed
    values recover, the CONF cell parses to NULL, and the member audit
    (the relation process.py folds into the process log's ``repairs``
    column — pinned there by test_process_log) reports both tags."""
    import zipfile

    from ffiec_pq_spark.sources.tsv import read_call_schedule

    header = ["IDRSSD", "RCFD0010", "TEXT9999", "RCFD2170", "TEXT4545"]
    lines = [
        "\t".join(header) + "\t",
        "ID\tCash\tMemo\tAssets\tNote\t",
        "1001\t10.5\tmemo one\t20000\tclean note\t",
        # ONE row, all three corruptions: embedded newline in the memo
        # text, CONF token in the numeric, extra tab in the final text
        "1002\t33.5\tbroken\nmemo\tCONF\tnote 2\textra\t",
        "1003\t70.25\tmemo three\t90000\tlast\t",
    ]
    zpath = str(tmp_path / "FFIEC CDR Call Bulk All Schedules 03312024.zip")
    member = "FFIEC CDR Call Schedule RX 03312024.txt"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(member, "\n".join(lines) + "\n")

    df, audit = read_call_schedule(
        spark, zpath, member, {"RCFD0010": "d", "RCFD2170": "i"}
    )
    rows = {r["IDRSSD"]: r for r in df.collect()}
    audit["unpersist"]()
    assert audit["ok"], audit
    assert set(audit["repairs"]) >= {"newline-gsub", "tab-repair"}, audit
    assert rows[1002]["RCFD0010"] == pytest.approx(33.5)
    assert rows[1002]["TEXT9999"] == "broken memo"  # newline -> space
    assert rows[1002]["RCFD2170"] is None  # CONF -> NULL
    assert rows[1002]["TEXT4545"] == "note 2 extra"  # extra tab -> space
    assert rows[1001]["RCFD0010"] == pytest.approx(10.5)
    assert rows[1003]["TEXT4545"] == "last"
