"""The three workloads: inputs, one op, and the output check of each.

Every workload runs passes over a fixed cycle of ops that starts at a
seeded point; one op is one call a user of the package would make.

- ``etl_drop``: one S3-event-sized drop of one messy report CSV through
  ``pipelines.job.run_batch`` and into a fresh in-memory Derby database.
- ``olap_star``: one relational registry query through the noop sink.
- ``dedup_corpus``: one document/embedding registry query through the
  noop sink.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

import gen_reports

#: the query tables: a byte-identical copy of the repository's sf0.01
#: testdata (the oracle-checked set), carried here so a run reads only
#: inside its checkout
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: rows of the generated Amazon report (the Kaggle file's 128k rows is
#: ~sf0.25 of the lineitem ratio)
AMAZON_ROWS = 2000

OLAP_QUERIES = [
    "pricing_summary", "revenue_by_nation", "topk_per_group", "top_unshipped",
    "running_total", "exists_late_orders", "nation_volume_pairs", "rollup_sales",
    "quantile_stats", "promo_revenue", "market_share", "customers_no_orders",
    "events_sessionize", "events_sliding",
]
DEDUP_QUERIES = [
    "dedup_exact_docs", "minhash_signatures", "word_jaccard_pairs",
    "jaccard_pairs_prefix", "dup_clusters", "ann_lsh_topk", "cosine_topk",
    "lang_id", "quality_score",
]
ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@dataclass
class OpResult:
    """What an op hands back for its output check."""

    check: Callable[[], list[str]] | None = None
    collected: object = None
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        # every workload names the tables: the host-noise canaries read
        # nation and lineitem
        self.tables = TABLES

    def prepare(self) -> None:
        """Generate this seed's inputs (no Spark)."""

    def op_names(self, p: int) -> list[str]:
        """The ops of pass ``p``, before the seeded shuffle."""
        raise NotImplementedError

    def after_op(self) -> None:
        """Release what one op held, after its output check and outside
        its timing."""

    def close(self, spark) -> None:
        """Release what the ops left behind."""

    def pass_order(self, p: int) -> list[str]:
        """The ops of pass ``p`` as a seeded rotation of a fixed cycle.

        The seed picks where the cycle starts; every pass continues the
        same cycle, so each op follows the same op whatever the seed.
        A free shuffle per pass moved etl_drop's op_p50_s by ~30 %
        between seeds, through which op ran just before which."""
        names = list(self.op_names(p))
        k = random.Random(f"{self.name}:{self.seed}").randrange(len(names))
        return names[k:] + names[:k]


class QueryWorkload(Workload):
    queries: list[str] = []

    def op_names(self, p: int) -> list[str]:
        return self.queries

    def run_op(self, spark, tracer, op: str, collect: bool) -> OpResult:
        """Build the DataFrame (construction), then run it to the noop
        sink, or collect it when the output is to be checked."""
        from kaggle_ecommerce_etl_spark.queries import REGISTRY

        fn, _ = REGISTRY[op]
        with tracer.span("queries.build"):
            df = fn(spark, self.tables)
        with tracer.span("spark.exec"):
            if collect:
                return OpResult(collected=df.toPandas())
            df.write.format("noop").mode("overwrite").save()
        return OpResult()

    def after_op(self) -> None:
        from kaggle_ecommerce_etl_spark.functions.similarity import release_corpus_caches

        release_corpus_caches()

    def check_collected(self, results: dict) -> dict[str, list[str]]:
        """Compare each collected result with its DuckDB oracle, using
        the oracle gate's own normalisation (scripts/check_oracle.py)."""
        import duckdb

        from kaggle_ecommerce_etl_spark.queries import REGISTRY

        normalize = _oracle_normalize()
        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            problems = {}
            for name, got in results.items():
                oracle = REGISTRY[name][1]
                if oracle is None:
                    continue
                want = con.execute(oracle).fetchdf()
                if len(got) != len(want):
                    problems[name] = [f"rows {len(got)} vs oracle {len(want)}"]
                elif sorted(map(str.lower, got.columns)) != sorted(map(str.lower, want.columns)):
                    problems[name] = [f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]
                elif normalize(got) != normalize(want):
                    problems[name] = ["values differ from the oracle"]
            return problems
        finally:
            con.close()


def _oracle_normalize():
    import importlib.util

    path = os.path.join(os.getcwd(), "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


class OlapStar(QueryWorkload):
    name = "olap_star"
    queries = OLAP_QUERIES


class DedupCorpus(QueryWorkload):
    name = "dedup_corpus"
    queries = DEDUP_QUERIES


class EtlDrop(Workload):
    name = "etl_drop"

    def prepare(self) -> None:
        self.drops = {d.kind: d for d in gen_reports.gen_drops(self.seed, AMAZON_ROWS)}
        for d in self.drops.values():
            raw = os.path.join(self.work, "drops", d.kind)
            os.makedirs(raw, exist_ok=True)
            with open(os.path.join(raw, d.name), "wb") as fh:
                fh.write(d.data)
        self.dbs: list[str] = []

    def op_names(self, p: int) -> list[str]:
        """Amazon, Sale and International; the International report
        alternates between its embedded-header and no-header variants
        (even passes, the warm-up included, carry the header)."""
        return ["amazon", "sale", "international" if p % 2 == 0 else "international_noheader"]

    def run_op(self, spark, tracer, op: str, collect: bool) -> OpResult:
        """``run_batch`` on a drop directory holding one file, then the
        reference's warehouse load into a fresh Derby database:
        ``amazon_sale`` upserted and delivered twice, the rest appended.
        The database is dropped in :meth:`close`."""
        from kaggle_ecommerce_etl_spark.pipelines.job import run_batch
        from kaggle_ecommerce_etl_spark.sinks.jdbc import (
            DERBY_DRIVER, UPSERT_KEYS, derby_memory_url, write_jdbc_append, write_upsert_jdbc,
        )

        db = f"perfbench{len(self.dbs)}"
        self.dbs.append(db)
        out = os.path.join(self.work, "out", db)
        url, props = derby_memory_url(db), {"driver": DERBY_DRIVER}
        errors: dict[str, str] = {}
        tables = run_batch(spark, os.path.join(self.work, "drops", op), out_dir=out, errors=errors)
        redelivered = 0
        for table, df in tables.items():
            if table in UPSERT_KEYS:
                with tracer.span("sinks.upsert"):
                    write_upsert_jdbc(df, url, table, UPSERT_KEYS[table], properties=props)
                first = _derby_count(spark, db, table)
                with tracer.span("sinks.upsert"):
                    write_upsert_jdbc(df, url, table, UPSERT_KEYS[table], properties=props)
                redelivered = _derby_count(spark, db, table) - first
            else:
                with tracer.span("sinks.append"):
                    write_jdbc_append(df, url, table, properties=props)
        expected = self.drops[op].expected

        def check() -> list[str]:
            try:
                problems = [f"run_batch error {k}: {v}" for k, v in errors.items()]
                if set(tables) != set(expected):
                    problems.append(f"tables {sorted(tables)} vs expected {sorted(expected)}")
                for table, want in expected.items():
                    csv_rows = _csv_rows(os.path.join(out, table))
                    db_rows = _derby_count(spark, db, table)
                    if csv_rows != want or db_rows != want:
                        problems.append(f"{table}: csv {csv_rows}, derby {db_rows}, expected {want}")
                if redelivered:
                    problems.append(f"re-delivery appended {redelivered} rows")
                extra["csv_bytes"] = sum(
                    os.path.getsize(f) for f in glob.glob(os.path.join(out, "*", "part-*.csv")))
                return problems
            finally:
                shutil.rmtree(out, ignore_errors=True)

        extra = {"redelivery_rows": redelivered}
        return OpResult(check=check, extra=extra)

    def close(self, spark) -> None:
        """Drop the op databases together, at the end of the run. A
        Derby drop waits ~0.6 s, and dropping after every op made the
        timed latencies noisier; the databases hold a few MB."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(_derby_drop, spark, db) for db in self.dbs]:
                f.result()


def _csv_rows(table_dir: str) -> int:
    """Data rows the CSV sink wrote (the generated values hold no
    newlines, so one line is one row; each part file has a header)."""
    rows = 0
    for part in glob.glob(os.path.join(table_dir, "part-*.csv")):
        with open(part, "rb") as fh:
            rows += max(0, sum(1 for _ in fh) - 1)
    return rows


def _derby_count(spark, db: str, table: str) -> int:
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db}")
    try:
        rs = conn.createStatement().executeQuery(f"SELECT COUNT(*) FROM {table}")
        rs.next()
        return rs.getLong(1)
    finally:
        conn.close()


def _derby_drop(spark, db: str) -> None:
    from py4j.protocol import Py4JJavaError

    try:
        spark.sparkContext._jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:memory:{db};drop=true"
        )
    except Py4JJavaError as e:
        # Derby reports a successful drop as SQLState 08006; XJ004 means
        # the op failed before it created its database
        if e.java_exception.getSQLState() not in ("08006", "XJ004"):
            raise


WORKLOADS = {w.name: w for w in (EtlDrop, OlapStar, DedupCorpus)}
