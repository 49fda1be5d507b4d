"""Helpers shared by the query modules.

The table reader every query builds on (``_t``), the exact decimal sum
(``_dsum``), the cached-fixture paths and their race-safe publisher,
and the oracle SQL pieces that more than one module's oracles are
built from. This is a leaf: it imports no query module, so every query
module imports it at module top and the import graph stays one-way.

Fixtures — the on-disk inputs the queries, ``bench.py`` and the probe
scripts derive from testdata tables — are placed and published only
here (FIXTURES.md, "Where fixtures live"):

- **Paths.** Every fixture path and fixture-named database is tagged
  by :func:`_fixture_tag` on its source table's (mtime, size) and
  rooted at ``tempfile.gettempdir()``: ``spark_graft_fixtures/<tag>/``
  (:func:`_format_fixture`), ``spark_graft_stream_src/<tag>``
  (:func:`_stream_fixture_dir`); bench's replica dirs live under
  ``spark_graft_sf1/<tag>``. A testdata regeneration changes the tag,
  so a stale fixture is never read (it is left behind, not deleted).
- **Publication.** A fixture that is only an input — the raw report
  CSVs, the stream sources, the format fixtures, the replica dirs — is
  written once per tag through :func:`_publish_fixture_dir`; later
  builds read it and run no job for it.
- **Per-build writes.** A query whose write IS the operation under
  test rewrites its fixture on every build: the upsert, CSV,
  incremental, DDL and schema-drift round-trips, the bucketed join,
  the partition-pruned read and the compaction.
- **Single files.** One exact CSV file is written only by
  ``sinks.csv_sink.write_csv_file``, one exact parquet file only by
  the stage-then-move it shares, ``csv_sink._write_single_file``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kaggle_ecommerce_etl_spark.functions.dedup_ml import MH_A, MH_B, MH_P
from kaggle_ecommerce_etl_spark.functions.text import STOPWORDS


#: parquet schemas by (absolute path, size, mtime_ns, nanosAsLong):
#: schemas only, never rows, so a rewritten file misses
_SCHEMAS: dict[tuple[str, int, int, str], StructType] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; every query reads its inputs here.

    A table's schema is learned once per process: Spark's parquet
    schema inference runs a footer-reading job on every read, so the
    first read of a file caches its schema under the file's absolute
    path, size, ``mtime_ns`` and the session's
    ``spark.sql.legacy.parquet.nanosAsLong`` (which decides how a
    nanosecond timestamp lands), and later reads pass it to
    ``.schema(...)`` and run no job. Only the schema is cached: the
    rows are read from the file every time, and a rewritten file (new
    size or mtime) misses the cache."""
    # deterministic temporal semantics regardless of the caller's session
    # (DuckDB oracles are UTC-naive)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # see session.py: avoids exponential optimizer cost on wide
    # isNull-heavy filters (transform / mostly-null queries)
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    if name == "events":
        # events.parquet has shipped as TIMESTAMP(NANOS) in some testdata
        # generations, which Spark's vectorized reader rejects: with
        # nanosAsLong set, ns arrives as long and is floor-div'ed to
        # micros (identical to DuckDB's ns→µs truncation). Other
        # generations store TIMESTAMP(MICROS), where the same read
        # yields a timestamp directly — branch on the landed type.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = _parquet(spark, f"{sf_dir}/events.parquet")
        if dict(ev.dtypes)["ts"] == "bigint":
            ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return ev
    return _parquet(spark, f"{sf_dir}/{name}.parquet")


def _parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema of a file read
    before (see :func:`_t`); a directory, a missing file or a
    non-local path is read uncached (and Spark reports what is wrong)."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM for oracle-compared doubles: accumulate in
    DECIMAL(23,8) (exact addition — immune to the one-cent divergence a
    double sum can show vs DuckDB when the two engines reduce in a
    different order; it bit returned_revenue after an r3 testdata
    regen), round, hand back double. The SQL twin is
    ``CAST(round(sum(CAST(x AS DECIMAL(23,8))), s) AS DOUBLE)``.

    Measured cost (sf0.1 Q1 shape, min-of-3): decimal sum 1.13 s vs
    double 0.49 s — the determinism contract is worth the 2.3×, and
    the cheaper exact alternative (scaled-long cents) silently wraps
    past Long.MAX on 100 TB aggregates, so decimal stays."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(23,8)")), scale).cast("double")


def _view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Register ``name`` as a prefixed temp view for spark.sql text and
    return the view name. Re-registered on every call so a session
    that switches sf_dir never reads a stale path."""
    v = f"__ext3_{name}"
    _t(spark, sf_dir, name).createOrReplaceTempView(v)
    return v


# --------------------------------------------------------------------------
# cached fixtures derived from testdata tables
# --------------------------------------------------------------------------

def _fixture_tag(prefix: str, sf_dir: str, table: str = "events") -> str:
    """Staleness tag for any cached fixture derived from a testdata
    table: keyed on the source's (mtime, size) so a driver testdata
    regeneration invalidates the cache. ONE recipe for every fixture
    site (streaming dirs, JDBC database names, format round-trips) —
    it must never diverge between them."""
    st = os.stat(f"{sf_dir}/{table}.parquet")
    return hashlib.md5(
        f"{prefix}:{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]


def _stream_fixture_dir(prefix: str, sf_dir: str, table: str = "events") -> str:
    """Cached streaming-fixture directory path (see _fixture_tag)."""
    tag = _fixture_tag(prefix, sf_dir, table)
    return f"{tempfile.gettempdir()}/spark_graft_stream_src/{tag}"


def _format_fixture(sf_dir: str, name: str, table: str) -> str:
    """Cached format-fixture path keyed on the SOURCE table's
    (mtime, size) via the shared _fixture_tag recipe — a testdata
    regeneration under the same sf_dir must invalidate the cached
    JSONL/ORC fixture, or the oracle (reading the fresh parquet)
    diverges from a stale cache."""
    tag = _fixture_tag(f"fmt:{name}", sf_dir, table)
    return f"{tempfile.gettempdir()}/spark_graft_fixtures/{tag}/{name}"


def _publish_fixture_dir(src_dir: str, build) -> None:
    """Publish a fixture directory exactly once, safely under
    CONCURRENT callers (pytest alongside check_oracle/plan_audit, which
    both execute these query fns): each caller builds into a private
    pid-scoped stage dir, writes the ``_SPARK_GRAFT_READY`` marker
    INSIDE it, then atomically ``os.rename``s into place. A losing
    racer's rename fails (destination exists) and its stage is
    discarded — no window where a reader can observe a half-written
    ``src_dir`` carrying the marker."""
    done = src_dir + "/_SPARK_GRAFT_READY"
    if os.path.exists(done):
        return
    stage = f"{src_dir}.__stage__{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    build(stage)
    with open(stage + "/_SPARK_GRAFT_READY", "w") as fh:
        fh.write("ok")
    try:
        os.rename(stage, src_dir)
        return
    except OSError:
        pass
    if os.path.exists(done):  # lost the race to a complete winner
        shutil.rmtree(stage, ignore_errors=True)
        return
    # Destination exists but looked marker-less (a CRASHED earlier
    # run). Never rmtree it in place — between our marker check and
    # the delete, another racer may have just renamed a COMPLETE
    # fixture there and begun streaming from it. Instead atomically
    # CLAIM the old directory by renaming it aside (only one process
    # can win that rename), re-check what we actually claimed, and
    # only then dispose of it.
    aside = f"{src_dir}.__dead__{os.getpid()}"
    try:
        os.rename(src_dir, aside)
    except OSError:
        # someone else claimed or replaced it; if a complete fixture
        # now exists we are done either way
        shutil.rmtree(stage, ignore_errors=True)
        return
    if os.path.exists(aside + "/_SPARK_GRAFT_READY"):
        # we claimed a COMPLETE fixture that won the race moments ago
        # — put it back (or drop it if yet another complete one landed)
        try:
            os.rename(aside, src_dir)
        except OSError:
            shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        return
    shutil.rmtree(aside, ignore_errors=True)
    try:
        os.rename(stage, src_dir)
    except OSError:  # another racer completed the replacement first
        shutil.rmtree(stage, ignore_errors=True)


def _parquet_stream(
    spark: SparkSession,
    prefix: str,
    sf_dir: str,
    frame: DataFrame,
    table: str = "events",
) -> tuple[DataFrame, str]:
    """Publish ``frame`` (two parquet files) once as the cached stream
    fixture tagged ``prefix`` (see _stream_fixture_dir) and return a
    file stream over it with the frame's schema, plus the fixture tag
    (memory-sink table names carry it)."""
    src_dir = _stream_fixture_dir(prefix, sf_dir, table)

    def _build(stage: str) -> None:
        frame.repartition(2).write.mode("overwrite").parquet(stage)

    _publish_fixture_dir(src_dir, _build)
    stream = spark.readStream.schema(frame.schema).parquet(src_dir)
    return stream, os.path.basename(src_dir)


# --------------------------------------------------------------------------
# oracle SQL shared between query modules
# --------------------------------------------------------------------------

def _oracle_conflict(op: str) -> str:
    return f"""
SELECT l.* FROM lineitem l
JOIN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING count(*) {op} 1) k USING (l_orderkey)
"""


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


ORACLE_SESSIONIZE = """
WITH marks AS (
  SELECT user_id, ts,
         -- interval comparison, NOT date_diff('second', ...):
         -- date_diff counts second-BOUNDARY crossings, so a 1799.2 s
         -- gap between sub-second timestamps can read as 1800 and
         -- split a session Spark's session_window (exact-microsecond
         -- comparison) merges — bit at sf0.1 in the r4 scale probe
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


_SHINGLE_SQL = """
WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS t
           FROM documents),
s AS (SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t)-1, 2))]) AS sh
      FROM t)
"""


def _mh_sql(i: int) -> str:
    return (
        f"list_min([(({MH_A[i]} * (('0x' || substr(md5(x), 1, 8))::BIGINT)"
        f" + {MH_B[i]}) % {MH_P}) for x in sh]) AS mh{i}"
    )


def _band_sql(b: int) -> str:
    lo, hi = 2 * b, 2 * b + 1
    return f"md5(mh{lo} || ',' || mh{hi}) AS band{b}"


#: Shingles → minhash signatures → LSH bands → candidate pairs →
#: undirected edges → recursive reachability, left open after the
#: recursive member of ``reach``. The connected-components oracles
#: (dup_clusters, corpus_pipeline) close it and add ``cc`` and their
#: own tail.
_CC_REACH_SQL = (
    _SHINGLE_SQL.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + ", sigs AS (SELECT doc_id, "
    + ", ".join(_mh_sql(i) for i in range(8))
    + " FROM s), bands AS (SELECT doc_id, "
    + ", ".join(_band_sql(b) for b in range(4))
    + " FROM sigs), cand AS ("
    + " UNION ".join(
        f"SELECT a.doc_id AS id1, b.doc_id AS id2 FROM bands a "
        f"JOIN bands b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(4)
    )
    + """),
edges AS (SELECT id1 AS src, id2 AS dst FROM cand
          UNION SELECT id2, id1 FROM cand),
reach(id, r) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id"""
)
