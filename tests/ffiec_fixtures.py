"""Shim: fixture builders moved into the package so the registered
end-to-end ETL query can use them too."""

from ffiec_pq_spark.testing.fixtures import *  # noqa: F401,F403
from ffiec_pq_spark.testing.fixtures import (  # noqa: F401
    N_BANKS,
    PURE_COLS,
    TYPE_DICT,
    make_broken_zip,
    make_call_zip,
    make_call_zip_q2,
    make_mdrm_zip,
    make_taxonomy_zip,
    make_xbrl_zip,
)


def member_lines_frame(spark, zip_path: str, member: str, skip: int = 2):
    """One member's (line_no, value) rows after its first ``skip``
    lines, read on the driver with ``zipfile`` into a local frame: the
    independent reference the batch line frame is checked against."""
    import zipfile

    from ffiec_pq_spark.session import local_frame

    with zipfile.ZipFile(zip_path) as zf:
        lines = zf.read(member).decode("utf-8", errors="replace").split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    rows = [
        (i, ln.rstrip("\r")) for i, ln in enumerate(lines, 1) if i > skip
    ]
    return local_frame(spark, rows, "line_no long, value string")
