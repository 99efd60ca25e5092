"""The ingest's one zip reader (sources/tsv.py ``zip_lines_batch`` and
``ZipFrame``): no other code turns call-report members into lines, the
repair tags logged are the ones that fired, the extraction's field
count is the audit's, and the POR reader keeps its first data row when
the member has no description row."""

import os
import zipfile

import ffiec_pq_spark
from ffiec_pq_spark.operators.process import ffiec_process, process_zip_por
from ffiec_pq_spark.testing.fixtures import N_BANKS, _por_lines, _row

PKG_DIR = os.path.dirname(os.path.abspath(ffiec_pq_spark.__file__))


def _package_sources():
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG_DIR), fh.read()


def test_one_binaryfile_scan_for_call_report_members():
    """``sources/tsv.py`` scans a zip with ``binaryFile`` once (in
    ``zip_lines_batch``); only the XBRL reader, whose members are a
    different format, has its own scan; nothing refers to the deleted
    Python Data Source reader."""
    scans = {}
    refs = []
    for rel, src in _package_sources():
        n = src.count('format("binaryFile")')
        if n:
            scans[rel] = n
        if "zip_datasource" in src:
            refs.append(rel)
    assert scans == {
        os.path.join("sources", "tsv.py"): 1,
        os.path.join("sources", "xbrl.py"): 1,
    }
    assert refs == []


def _write_zip(path: str, members: dict[str, list[str]]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, lines in members.items():
            zf.writestr(name, "\n".join(lines) + "\n")
    return path


def test_log_carries_the_repair_tags_that_fired(spark, tmp_path):
    """A member with only an extra-tab row logs ``["tab-repair"]`` and
    one with only an embedded newline logs ``["newline-gsub"]``."""
    def head(note):
        return [_row(["IDRSSD", note]), _row(["ID", "Note"])]

    tab_only = head("TEXT4545") + [
        _row([1001, "plain"]),
        _row([1002, "extra\ttab"]),
    ]
    newline_only = head("TEXT4546") + [
        _row([1001, "broken\nnote"]),
        _row([1002, "plain"]),
    ]
    zp = _write_zip(
        str(tmp_path / "FFIEC CDR Call Bulk All Schedules 03312024.zip"),
        {
            "FFIEC CDR Call Schedule RX 03312024.txt": tab_only,
            "FFIEC CDR Call Schedule RY 03312024.txt": newline_only,
        },
    )
    out = str(tmp_path / "out")
    res = ffiec_process(spark, [zp], {}, out)
    log = {r["schedule"]: r for r in res["log"].collect()}
    assert log["rx"]["repairs"] == ["tab-repair"], log["rx"]
    assert log["ry"]["repairs"] == ["newline-gsub"], log["ry"]
    assert log["rx"]["ok"] and log["ry"]["ok"]
    wide = {
        o["schedule"]: {
            r["IDRSSD"]: r[1] for r in spark.read.parquet(o["path"]).collect()
        }
        for o in res["wide"]
    }
    assert wide["rx"] == {1001: "plain", 1002: "extra tab"}
    assert wide["ry"] == {1001: "broken note", 1002: "plain"}


def test_por_without_description_row_keeps_first_bank(spark, tmp_path):
    """Row 2 of a POR member without a description row is data, so the
    sniff skips only the header: every bank is read, bank 1001 (the
    first data row) included."""
    lines = _por_lines()
    del lines[1]  # the description row
    zp = _write_zip(
        str(tmp_path / "FFIEC CDR Call Bulk All Schedules 03312024.zip"),
        {"FFIEC CDR Call Bulk POR 03312024.txt": lines},
    )
    path, log = process_zip_por(spark, zp, str(tmp_path))
    ids = {r["IDRSSD"] for r in spark.read.parquet(path).collect()}
    assert ids == set(range(1001, 1001 + N_BANKS))
    assert log[0]["ok"]


def test_concurrent_readers_share_one_repair(spark, tmp_path):
    """The ingest reads members from pool threads: however many threads
    read a repaired member at once, the zip keeps ONE persisted frame
    (the extraction repaired the member in place), and every reader
    gets the repaired rows and the same tags."""
    import sys
    import threading

    from ffiec_pq_spark.sources.tsv import (
        ZipFrame,
        make_colspec,
        read_schedule_member,
    )
    from ffiec_pq_spark.testing.fixtures import TYPE_DICT, make_call_zip

    zp = make_call_zip(str(tmp_path))
    with zipfile.ZipFile(zp) as z:
        members = [m for m in z.namelist() if "POR" not in m]
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with ZipFrame(spark, zp, members) as frame:
        frame.audit(
            {m: make_colspec(frame.heads[m][0], TYPE_DICT) for m in members}
        )
        flagged = list(frame.tags)
        assert len(flagged) == 1
        seen = []

        def read(member):
            df, audit = read_schedule_member(frame, member)
            seen.append((member, audit["repairs"], audit["ok"], df.count()))

        threads = [
            threading.Thread(target=read, args=(m,))
            for m in flagged * 6 + members
        ]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert len(seen) == len(threads)
        # the line frame only: no second, repaired frame
        assert jsc.getPersistentRDDs().size() == before + 1
        for member, repairs, ok, n in seen:
            assert ok and n == N_BANKS
            if member in flagged:
                assert repairs == ["newline-gsub", "tab-repair"]
    assert jsc.getPersistentRDDs().size() == before


def test_extraction_field_count_matches_the_audit(spark, tmp_path):
    """The extraction decides which members to repair with
    ``field_count``; it must equal the audit's JVM count
    ``size(split(regexp_replace(value, '\\t$', ''), '\\t', -1))`` on
    every line, including those where Java's ``$`` matches before a
    final line terminator."""
    from pyspark.sql import functions as F

    from ffiec_pq_spark.session import local_frame
    from ffiec_pq_spark.sources.tsv import field_count, zip_lines_batch

    adversarial = [
        "a\tb\t", "a\tb", "a\tb\t\u0085", "a\tb\t\u2028", "a\tb\t\u2029",
        "a\t\u0085b", "", "\t", "\t\t\t", "\r", "a\t\r", "a\rb\t", "\t\r\t",
    ]
    member = "FFIEC CDR Call Schedule RX 03312024.txt"
    zp = _write_zip(str(tmp_path / "adversarial.zip"), {member: adversarial})
    jvm_count = F.size(
        F.split(F.regexp_replace(F.col("value"), "\t$", ""), "\t", -1)
    )
    extracted = zip_lines_batch(spark, zp, [member]).select("value")
    raw = local_frame(spark, [(v,) for v in adversarial], "value string")
    for frame in (extracted, raw):
        rows = frame.select("value", jvm_count.alias("n")).collect()
        assert len(rows) == len(adversarial)
        assert [(r["value"], field_count(r["value"])) for r in rows] == [
            (r["value"], r["n"]) for r in rows
        ]
