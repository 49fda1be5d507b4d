"""Source tests: encoding fallback, incremental recency window,
filename-timestamp extraction (SURVEY.md §2a ops 1, 4; §2e op 33), and
the read shape learned on the driver against Spark's own probe."""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import pytest

from kaggle_ecommerce_etl_spark.sources import csv_source
from kaggle_ecommerce_etl_spark.sources.csv_source import (
    read_csv_with_encoding_fallback,
    read_recent_csv,
    with_filename_timestamp,
)


def test_encoding_fallback_latin1(spark, tmp_path):
    p = tmp_path / "latin.csv"
    with open(p, "wb") as f:
        f.write("name,city\n".encode("utf-8"))
        f.write("Müller,Köln\n".encode("iso-8859-1"))  # invalid UTF-8 bytes
    df = read_csv_with_encoding_fallback(spark, str(p))
    row = df.collect()[0]
    assert row.name == "Müller" and row.city == "Köln"


def test_encoding_utf8_first(spark, tmp_path):
    p = tmp_path / "utf8.csv"
    p.write_text("name\nMüller\n", encoding="utf-8")
    assert read_csv_with_encoding_fallback(spark, str(p)).collect()[0].name == "Müller"


def test_read_recent_csv_window(spark, tmp_path):
    fresh = tmp_path / "fresh.csv"
    stale = tmp_path / "stale.csv"
    fresh.write_text("a\n1\n")
    stale.write_text("a\n2\n")
    old = dt.datetime.now().timestamp() - 3600
    os.utime(stale, (old, old))
    df = read_recent_csv(spark, str(tmp_path), minutes=10)
    assert [r.a for r in df.collect()] == ["1"]


def test_filename_timestamp_extract(spark, tmp_path):
    p = tmp_path / "Amazon Sale Report_2022-04-30_12-30-00.csv"
    p.write_text("a\n1\n")
    df = with_filename_timestamp(
        spark.read.option("header", True).csv(str(tmp_path))
    )
    row = df.collect()[0]
    assert "Amazon" in row._source_file
    assert row._file_ts == dt.datetime(2022, 4, 30, 12, 30, 0)


def test_read_csv_quarantine(spark, tmp_path):
    """Healthy rows of a partially-damaged file survive; rows that
    cannot align to the header are quarantined as raw lines."""
    from kaggle_ecommerce_etl_spark.sources.csv_source import read_csv_quarantine

    p = tmp_path / "damaged.csv"
    p.write_text(
        "a,b,c\n"
        "1,2,3\n"
        "4,5,6,EXTRA,COLS\n"   # too many fields → quarantine
        "7,8\n"                 # too few fields → quarantine
        "9,10,11\n"
    )
    good, bad = read_csv_quarantine(spark, str(p))
    g = sorted(tuple(r) for r in good.collect())
    assert g == [("1", "2", "3"), ("9", "10", "11")]
    badlines = sorted(r.raw_line for r in bad.collect())
    assert badlines == ["4,5,6,EXTRA,COLS", "7,8"]


def test_encoding_fallback_late_garbling(spark, tmp_path):
    """Latin-1 bytes appearing only at row 100 — far beyond the 20-row
    head sample — must still trigger the ISO-8859-1 fallback (the tail
    byte-probe; pre-fix this mis-decoded to U+FFFD silently)."""
    p = tmp_path / "late.csv"
    rows = ["name"] + [f"clean{i}" for i in range(99)] + ["Franç"]
    p.write_bytes(("\n".join(rows) + "\n").encode("iso-8859-1"))
    df = read_csv_with_encoding_fallback(spark, str(p))
    vals = [r["name"] for r in df.collect()]
    assert "Franç" in vals and not any("�" in v for v in vals)


# ------------------------------------------------------------------
# the read's shape learned on the driver, against Spark's own probe
# ------------------------------------------------------------------


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _assert_probe_parity(spark, path):
    """The read's columns and rows equal those of Spark's own header
    and encoding probe (the pre-driver path)."""
    got = read_csv_with_encoding_fallback(spark, path)
    want = csv_source._probe_read(spark, path, ("UTF-8", "ISO-8859-1"))
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def _drops():
    from perfbench import gen_reports

    return [(s, d) for s in range(1, 6) for d in gen_reports.gen_drops(s, 200)]


@pytest.mark.parametrize("seed,drop", _drops(), ids=lambda v: getattr(v, "kind", v))
def test_report_drop_shape_matches_spark_and_runs_no_job(spark, tmp_path, count_jobs, seed, drop):
    """Every generated report drop (all four kinds, Latin-1 Sale
    included) reads with the header names and encoding Spark infers,
    and building the read runs no Spark job."""
    p = tmp_path / drop.name
    p.write_bytes(drop.data)
    assert count_jobs(f"csv-drop-{seed}-{drop.kind}",
                      lambda: read_csv_with_encoding_fallback(spark, str(p))) == 0
    _assert_probe_parity(spark, str(p))


CRAFTED = {
    "case_insensitive_dups": b"A,a,,b,B,a\n1,2,3,4,5,6\n",
    "empty_names": b",x,,\n1,2,3,4\n",
    "trailing_comma": b"a,b,\n1,2,3\n",
    "bom": b"\xef\xbb\xbfname,city\nx,y\n",
    "quoted_comma": b'"a,b",c,""\n1,2,3\n',
    "crlf": b"a,b\r\n1,2\r\n3,4\r\n",
    "cr_only": b"a,b\r1,2\r",
    "empty_file": b"",
    "header_only": b"x,y",
    "header_only_newline": b"x,y\n",
    "spaces_kept": b" a , b\n1,2\n",
    # read differently by Spark's parser and ``csv``: these take the probe
    "doubled_quote": b'"a""x",b\n1,2\n',
    "backslash_escape": b'"a\\"x",b\n1,2\n',
    "blank_first_line": b"\n\na,b\n1,2\n",
    # encodings
    "garbled_head": "name,city\nMüller,Köln\n".encode("iso-8859-1"),
    "garbled_header": "größe,b\n1,2\n".encode("iso-8859-1"),
    "garbled_tail_only": ("\n".join(["name"] + [f"c{i}" for i in range(5000)] + ["Franç"])
                          + "\n").encode("iso-8859-1"),
    "literal_replacement_char": "name\nab�c\n".encode("utf-8"),
    "utf8_multibyte": "name,ville\nMüller,Zürich\n".encode("utf-8"),
}


@pytest.mark.parametrize("case", sorted(CRAFTED))
def test_crafted_csv_shape_matches_spark(spark, tmp_path, case):
    p = tmp_path / f"{case}.csv"
    p.write_bytes(CRAFTED[case])
    _assert_probe_parity(spark, str(p))


def test_crafted_header_names(spark, tmp_path):
    """Spark's naming rules, spelled out: case-insensitive duplicates
    get their index, empty names become ``_c<i>``, a BOM is dropped."""
    names = {}
    for case in ("case_insensitive_dups", "empty_names", "bom", "quoted_comma"):
        p = tmp_path / f"{case}.csv"
        p.write_bytes(CRAFTED[case])
        names[case] = read_csv_with_encoding_fallback(spark, str(p)).columns
    assert names == {
        "case_insensitive_dups": ["A0", "a1", "_c2", "b3", "B4", "a5"],
        "empty_names": ["_c0", "x", "_c2", "_c3"],
        "bom": ["name", "city"],
        "quoted_comma": ["a,b", "c", "_c2"],
    }


def test_differing_headers_take_the_spark_probe(spark, tmp_path, count_jobs):
    """Two files whose header lines differ: Spark names the columns
    from its largest file, so the probe decides, and the result is
    the probe's."""
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    a.write_text("x,y\n1,2\n")
    b.write_text("x,z\n3,4\n5,6\n")
    paths = [str(a), str(b)]
    assert csv_source._driver_header(spark, paths, "UTF-8") is None
    assert count_jobs("csv-two-headers",
                      lambda: read_csv_with_encoding_fallback(spark, paths)) > 0
    _assert_probe_parity(spark, paths)


def test_same_headers_multi_file_read_runs_no_job(spark, tmp_path, count_jobs):
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    a.write_text("x,y\n1,2\n")
    b.write_bytes("x,y\nCafé,4\n".encode("iso-8859-1"))
    paths = [str(a), str(b)]
    assert count_jobs("csv-two-files",
                      lambda: read_csv_with_encoding_fallback(spark, paths)) == 0
    _assert_probe_parity(spark, paths)


def test_read_csv_quarantine_learns_header_without_a_job(spark, tmp_path, count_jobs):
    """A local quarantine read runs no header job: its only job is the
    eager checkpoint of the parse."""
    from kaggle_ecommerce_etl_spark.sources.csv_source import read_csv_quarantine

    p = tmp_path / "damaged.csv"
    p.write_text("a,b,c\n1,2,3\n4,5\n")
    assert count_jobs("quarantine-header",
                      lambda: csv_source._driver_header(spark, str(p), "UTF-8")) == 0
    assert csv_source._driver_header(spark, str(p), "UTF-8") == ["a", "b", "c"]
    assert count_jobs("quarantine-read", lambda: read_csv_quarantine(spark, str(p))) == 1
