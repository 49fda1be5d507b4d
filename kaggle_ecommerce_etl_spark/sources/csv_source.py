"""CSV sources (SURVEY.md §2a ops 1, 2, 4).

Reference behavior re-expressed:
- ``pd.read_csv`` UTF-8 → ISO-8859-1 retry (ecommerce_s3_to_pg.py:104-114)
- incremental source: keep files modified in the last Δ minutes
  (pg.py:74-121); filename-timestamp recency via regex (pg.py:80 —
  broken in the reference, implemented correctly here)

Everything reads as ``StringType`` (header=True, no inference) to mirror
the reference's "object dtype, coerce later" model — the transform layer
(normalize.transform) owns typing. At scale this also makes the scan
schema stable across messy files.

A read's shape (encoding and header names) is learned on the driver
from the bytes of local files, as the reference's pandas read does,
so building a local CSV read runs no Spark job: each encoding is tried
by strict-decoding each file's head and tail, and the header line is
split with the ``csv`` module and named by Spark's rules
(:func:`_spark_header_names`). Reads whose shape Spark alone decides —
non-local paths, directories and globs, compressed files, more than
:data:`_MAX_FILES` files, header lines that differ between files or
that quote or escape in ways Spark's parser reads differently — keep
the Spark probe (:func:`_probe_read`).
"""

from __future__ import annotations

import codecs
import csv
import datetime as _dt
import os
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: corrected form of the reference's never-formatted pattern (pg.py:80)
FILENAME_TS_PATTERN = r"_(\d{4}-\d{2}-\d{2}_\d{2}-\d{2}-\d{2})\.csv$"
FILENAME_TS_FORMAT = "yyyy-MM-dd_HH-mm-ss"

#: bounded driver work however many files land
_MAX_FILES = 8
#: head sample: this many lines or bytes, whichever is longer (the
#: header plus the 20 rows the Spark probe samples); tail sample size
_HEAD_LINES = 21
_SAMPLE_BYTES = 65536
#: codecs whose line breaks are the bytes \n and \r, so the header line
#: can be cut from raw bytes
_BYTE_LINE_CODECS = {"utf-8", "iso8859-1"}
#: extensions Hadoop decompresses by codec: their bytes are not the text
_COMPRESSED = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst", ".xz", ".br")
#: Hadoop's line reader drops a UTF-8 byte-order mark whatever the charset
_UTF8_BOM = b"\xef\xbb\xbf"
#: a header line Spark's parser and ``csv`` split alike: each field is
#: unquoted without quote or backslash, or wholly quoted with neither
#: inside (Spark escapes with backslash and keeps ``"a""b"`` literally)
_PLAIN_FIELD = r'(?:"[^"\\]*"|[^",\\]*)'
_PLAIN_HEADER = re.compile(rf"{_PLAIN_FIELD}(?:,{_PLAIN_FIELD})*")
#: what Java's ``String.trim`` strips
_JAVA_BLANK = "".join(map(chr, range(33)))


def _tail_bytes_garbled(path: str | list[str], enc: str) -> bool:
    """Byte-level probe of each file's LAST 64 KiB under ``enc`` —
    catches garbling that starts beyond the head sample (a file whose
    first rows are clean ASCII but whose tail carries Latin-1 bytes).
    Local-filesystem only (driver-side open); non-local paths resolve
    to no files and the probe abstains."""
    import glob as _glob

    paths = [path] if isinstance(path, str) else list(path)
    files: list[str] = []
    for p in paths:
        p = p.removeprefix("file://").removeprefix("file:")
        if os.path.isdir(p):
            files += sorted(
                f for f in _glob.glob(p + "/*") if os.path.isfile(f)
            )
        elif os.path.isfile(p):
            files.append(p)
        else:
            files += sorted(f for f in _glob.glob(p) if os.path.isfile(f))
    return any(_tail_garbled(_tail(f), enc) for f in files[:_MAX_FILES])


def _tail(f: str) -> bytes:
    with open(f, "rb") as fh:
        fh.seek(max(0, os.fstat(fh.fileno()).st_size - _SAMPLE_BYTES))
        return fh.read()


def _tail_garbled(chunk: bytes, enc: str) -> bool:
    """True when no cut of up to 4 leading bytes (the chunk may start
    inside a multi-byte character) strict-decodes under ``enc``."""
    return not any(
        _decodes(chunk[skip:], enc) for skip in range(min(4, len(chunk)) + 1)
    )


def _decodes(b: bytes, enc: str) -> bool:
    try:
        b.decode(enc)
        return True
    except UnicodeDecodeError:
        return False


def _head(f: str) -> bytes:
    """The first :data:`_HEAD_LINES` lines or :data:`_SAMPLE_BYTES`
    bytes, whichever is longer, cut after a line break so no character
    is split; the whole file when it is shorter."""
    buf = b""
    with open(f, "rb") as fh:
        while chunk := fh.read(_SAMPLE_BYTES):
            buf += chunk
            breaks = buf.count(b"\n") + buf.count(b"\r") - buf.count(b"\r\n")
            if len(buf) >= _SAMPLE_BYTES and breaks >= _HEAD_LINES:
                return buf[: max(buf.rfind(b"\n"), buf.rfind(b"\r")) + 1]
    return buf


def _decoded_head(head: bytes, enc: str) -> str | None:
    """``head`` as text, or None when it is garbled under ``enc``: it
    fails a strict decode or decodes to U+FFFD (the Spark probe reads
    undecodable bytes as U+FFFD, so a literal one counts as garbled
    too, as it always has)."""
    try:
        text = head.removeprefix(_UTF8_BOM).decode(enc)
    except UnicodeDecodeError:
        return None
    return None if "�" in text else text


def _byte_line_codec(enc: str) -> bool:
    """True for the codecs in :data:`_BYTE_LINE_CODECS`; a charset name
    Java knows and Python does not is left to Spark."""
    try:
        return codecs.lookup(enc).name in _BYTE_LINE_CODECS
    except LookupError:
        return False


def _local_files(path: str | list[str]) -> list[str] | None:
    """The local files a read names, or None when Spark's own listing
    decides what is read: a non-local scheme, a directory or glob
    (hidden-file and partition-directory rules), a compressed file, or
    more than :data:`_MAX_FILES` files."""
    files = []
    for p in [path] if isinstance(path, str) else path:
        if "://" in p and not p.startswith("file://"):
            return None
        p = p.removeprefix("file://").removeprefix("file:")
        if (
            any(ch in p for ch in "*?[{\\")
            or p.lower().endswith(_COMPRESSED)
            or not os.path.isfile(p)
        ):
            return None
        files.append(p)
    return files if 0 < len(files) <= _MAX_FILES else None


def _spark_header_names(spark: SparkSession, heads: list[str]) -> list[str] | None:
    """The column names Spark's CSV reader gives decoded heads ``heads``
    of a read's files, or None when only the Spark probe can tell.

    Spark takes the header from the first line of its largest file, so
    the files must agree on that line. The line is split with ``csv``
    when it is plain (:data:`_PLAIN_HEADER`) and named as Spark's
    ``CSVUtils.makeSafeHeader`` does: an empty name becomes ``_c<i>``
    and a name duplicated (case-insensitively unless
    ``spark.sql.caseSensitive``) gets its index appended. An empty file
    has no columns; a blank first line is left to Spark, which skips
    blank lines by its own rule."""
    lines = {re.split(r"\r\n?|\n", h, maxsplit=1)[0] for h in heads}
    if len(lines) != 1:
        return None
    (line,) = lines
    if not line.strip(_JAVA_BLANK):
        return [] if not any(heads) else None
    if not _PLAIN_HEADER.fullmatch(line):
        return None
    row = next(csv.reader([line]))
    if spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true":
        keys = row
    else:
        keys = [name.lower() for name in row]
    dup = {k for k, n in Counter(keys).items() if k and n > 1}
    return [
        f"_c{i}" if not name else f"{name}{i}" if key in dup else name
        for i, (name, key) in enumerate(zip(row, keys))
    ]


def _driver_header(
    spark: SparkSession, path: str | list[str], enc: str
) -> list[str] | None:
    """Header names of a read of ``path`` under ``enc``, learned on the
    driver; None when the files are not local, do not decode cleanly
    or the Spark probe must decide (see :func:`_spark_header_names`)."""
    files = _local_files(path)
    if files is None or not _byte_line_codec(enc):
        return None
    heads = [_decoded_head(_head(f), enc) for f in files]
    return None if None in heads else _spark_header_names(spark, heads)


def _string_schema(names: list[str], *extra: str) -> T.StructType:
    return T.StructType(
        [T.StructField(c, T.StringType(), True) for c in [*names, *extra]]
    )


def read_csv_with_encoding_fallback(
    spark: SparkSession,
    path: str | list[str],
    encodings: tuple[str, ...] = ("UTF-8", "ISO-8859-1"),
) -> DataFrame:
    """Header CSV read, all columns string; retry with the next encoding
    when the current one mis-decodes (the reference's UTF-8 →
    ISO-8859-1 retry, pg.py:104-114).

    Local files are decided on the driver, with no Spark job: an
    encoding is taken when, for every file, the head (first 21 lines or
    64 KiB, whichever is longer) strict-decodes without U+FFFD and the
    last 64 KiB strict-decodes after skipping at most 4 bytes to a
    character boundary. The header names come from
    :func:`_spark_header_names` and the read gets that all-string
    ``.schema(...)``. Files legitimately containing U+FFFD in their
    head fall through to the last encoding; acceptable for raw-CSV
    ingest.

    Everything else takes :func:`_probe_read` (see the module
    docstring for which reads). It runs 2 Spark jobs per encoding it
    tries, so 4 for a Latin-1 file. Reading a non-local file's head
    and tail through the Hadoop FileSystem API over py4j instead was
    measured at 0.10 s per file against the probe's 0.22 s for a
    UTF-8 report (4-core host, ``local[4]``): it would save only half
    the probe's cost, so those reads keep the probe."""
    files = _local_files(path)
    if files is not None and all(_byte_line_codec(e) for e in encodings):
        samples = [(_head(f), _tail(f)) for f in files]
        for enc in encodings:
            heads = [_decoded_head(head, enc) for head, _ in samples]
            if None in heads or any(_tail_garbled(t, enc) for _, t in samples):
                continue
            names = _spark_header_names(spark, heads)
            if names is None:
                break
            return (
                spark.read.option("header", True)
                .option("encoding", enc)
                .schema(_string_schema(names))
                .csv(path if isinstance(path, str) else list(path))
            )
    return _probe_read(spark, path, encodings)


def _probe_read(
    spark: SparkSession, path: str | list[str], encodings: tuple[str, ...]
) -> DataFrame:
    """The encoding retry decided by Spark: Spark does not raise on
    undecodable bytes — it substitutes U+FFFD — so "decode failed" is
    a 20-row head sample (and the header) containing the replacement
    character, plus :func:`_tail_bytes_garbled` on local files."""
    last_df = None
    for enc in encodings:
        df = (
            spark.read.option("header", True)
            .option("encoding", enc)
            .csv(path if isinstance(path, str) else list(path))
        )
        last_df = df
        try:
            sample = df.take(20)
        except Exception:  # noqa: BLE001 — unreadable under this encoding
            continue
        garbled = (
            any(
                isinstance(v, str) and "�" in v
                for row in sample
                for v in row
            )
            or any("�" in c for c in df.columns)
            or _tail_bytes_garbled(path, enc)
        )
        if not garbled:
            return df
    if last_df is None:
        raise RuntimeError(f"no encoding worked for {path}")
    return last_df


def read_recent_csv(
    spark: SparkSession,
    path: str,
    minutes: int = 10,
    now: _dt.datetime | None = None,
) -> DataFrame:
    """Incremental batch variant of the reference's time-window file
    listing (op 4): only files modified after now-Δ are scanned.
    Uses the scan-level ``modifiedAfter`` option → pruning happens at
    file-listing time, no data read for stale files."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    cutoff = (now - _dt.timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%S")
    return (
        spark.read.option("header", True)
        .option("modifiedAfter", cutoff)
        .csv(path)
    )


def with_filename_timestamp(df: DataFrame) -> DataFrame:
    """Attach source file + its embedded timestamp (corrected op 33)."""
    fname = F.input_file_name()
    ts_str = F.regexp_extract(fname, FILENAME_TS_PATTERN, 1)
    return df.withColumn("_source_file", fname).withColumn(
        "_file_ts",
        F.try_to_timestamp(ts_str, F.lit(FILENAME_TS_FORMAT)),
    )


def read_csv_quarantine(
    spark: SparkSession,
    path: str | list[str],
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE read with a corrupt-record quarantine: returns
    (good, quarantined) — good rows with the file's own header columns
    (all string, §1's "object then coerce" model), quarantined rows as
    their raw line text for audit/replay.

    The reference's posture on malformed input is try/except + skip the
    whole FILE (pg.py:229-233); quarantining keeps the healthy rows of
    a partially-damaged file and never drops data silently — rows whose
    field count does not match the header (extra OR missing columns)
    land in quarantine instead of being mis-parsed. At scale this is the difference
    between re-ingesting a 100 GB drop and re-processing 12 bad lines.

    The header names of local UTF-8 files are learned on the driver
    (:func:`_driver_header`), so only the checkpoint below runs a
    Spark job; other reads probe the header with one job first."""
    names = _driver_header(spark, path, "UTF-8")
    if names is None:  # the Spark probe: one job
        names = spark.read.option("header", True).csv(
            path if isinstance(path, str) else list(path)
        ).columns
    schema = _string_schema(names, "_corrupt_record")
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(path if isinstance(path, str) else list(path))
        # Spark disallows filtering ONLY the corrupt column of an
        # un-materialized scan (internal raw-record pushdown), and a
        # .cache() here would leak in the CacheManager (the caller
        # can't know it must unpersist). An EAGER localCheckpoint
        # materializes the full-row parse once, severs the CSV lineage
        # (so the corrupt-only filters below are legal), and its
        # storage is reclaimed by the ContextCleaner when the returned
        # frames are garbage-collected — no unpersist contract needed.
        .localCheckpoint(eager=True)
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad
