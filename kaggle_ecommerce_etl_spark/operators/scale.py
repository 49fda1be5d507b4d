"""Scale patterns (the 100 TB posture made executable): co-located
bucketed joins, salted skew joins, partition-pruned writes.

The reference never needs these (single-node pandas over tens of MB,
ecommerce_s3_to_pg.py end-to-end), but every §2 operator we re-express
leans on them the moment the data is 1000× the test scale factor:

- **Bucketing** pre-shuffles a table ONCE at write time; every later
  join/agg on the bucket key reads co-located buckets with ZERO
  exchange. The write-amortized answer to "this join shuffles 100 TB
  every night".
- **Salting** breaks a hot key across ``n_salts`` sub-keys so one
  skewed key can't serialize a stage onto one task. AQE skew-join
  splits oversized partitions at runtime; explicit salting is the
  plan-level guarantee for the pathological key you know about.
- **Partitioned writes** turn predicates on the partition column into
  file-listing prunes — the scan never opens non-matching files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | Sequence[str],
    buckets: int = 8,
    database: str | None = None,
) -> str:
    """Persist ``df`` as a bucketed+sorted catalog table; returns the
    qualified table name. Both sides of a repeated join should use the
    SAME bucket count and key so the join plans with no Exchange (and
    no per-query sort, thanks to sortBy)."""
    keys = [key] if isinstance(key, str) else list(key)
    qual = f"{database}.{table}" if database else table
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
        .format("parquet")
        .saveAsTable(qual)
    )
    return qual


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the big side gets a row-derived salt in
    [0, n_salts); the small side is replicated once per salt value
    (rows × n_salts — keep the small side small); the join runs on
    (keys + salt) so one hot key spreads over ``n_salts`` tasks.

    The salt hashes the big side's FULL row, so only bit-identical
    duplicate rows share a salt — the usual skew shape (hot key,
    varying payload) spreads evenly. Result equals ``big.join(small,
    on, how)`` for equi-joins of ``inner``/``left`` kind (each big row
    meets exactly one replica of its matching small rows).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    big_s = big.withColumn("__salt", salt.cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_s.join(small_s, [*on, "__salt"], how).drop("__salt")


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Directory-partitioned parquet write: predicates on
    ``partition_cols`` prune at FILE-LISTING time on read (the plan
    shows them under PartitionFilters, not PushedFilters)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_pruned(
    spark: SparkSession, path: str, **partition_values: str
) -> DataFrame:
    """Read a partitioned dataset keeping only the given partition
    values; the filter lands in PartitionFilters (listing prune)."""
    df = spark.read.parquet(path)
    for col, val in partition_values.items():
        df = df.filter(F.col(col) == val)
    return df


def deterministic_bucket(key, denom: int = 1000):
    """Stable [0, denom) bucket from an md5-derived 32-bit prefix of
    the key — reproducible across runs, engines and cluster sizes
    (unlike ``rand()`` or ``hash()``, whose values are
    seed/JVM-specific). The common currency of hash_sample /
    stratified_sample and their SQL oracles."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(key.cast("string").cast("binary")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(denom),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    denom: int = 1000,
) -> DataFrame:
    """Deterministic per-stratum sampling — the dataset-mixing
    primitive of a pre-training pipeline ("50% en, 30% zh, …").

    Keeps a row iff its key bucket < rate(stratum)·denom. The rate
    table broadcasts (strata cardinality is tiny); the filter is then
    a pure scan-time expression: no shuffle, no sampling state, and
    the SAME rows are kept on every run and every cluster size —
    re-runs of a 100 TB mix job are idempotent.

    Rates are quantized to 1/denom (default 0.1%); a stratum absent
    from ``rates`` uses ``default_rate``.
    """
    spark = df.sparkSession
    lookup = spark.createDataFrame(
        [(k, int(round(v * denom))) for k, v in rates.items()],
        f"{strata_col} string, __keep_lt int",
    )
    return (
        df.join(F.broadcast(lookup), strata_col, "left")
        .withColumn(
            "__keep_lt",
            F.coalesce(F.col("__keep_lt"), F.lit(int(round(default_rate * denom)))),
        )
        .filter(deterministic_bucket(F.col(key_col), denom) < F.col("__keep_lt"))
        .drop("__keep_lt")
        .select(*df.columns)
    )


def compact_sorted(
    df: DataFrame,
    path: str,
    key: str,
    target_files: int = 4,
) -> None:
    """Small-file compaction with range-clustered layout: rewrite into
    ``target_files`` range-partitioned files, each sorted by ``key``.

    The 100 TB housekeeping op: streaming sinks and per-batch appends
    leave thousands of small files; listing and per-file overhead then
    dominate scans. Range partitioning (sampled split points) gives
    globally disjoint key ranges per file, so later key/range
    predicates prune to single files AND parquet row-group min/max
    stats stay tight (clustered data → narrow stats → rowgroup skip).
    """
    (
        df.repartitionByRange(target_files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def scale_to_bits(col, domain: int, bits: int):
    """Map a value in [0, domain) onto the FULL [0, 2^bits) range —
    required before Morton interleaving: with raw values whose domain
    is far below 2^bits, the interleave's high bits are constant zero
    and range-partitioning on the code separates NEITHER dimension
    (verified the hard way in tests/test_scale.py)."""
    return F.floor(col.cast("long") * F.lit(1 << bits) / F.lit(domain)).cast(
        "long"
    )


def morton_code_expr(x, y, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative ints — the sort
    key for TWO-dimensional data clustering. Sorting/range-partitioning
    by the code keeps rows close in BOTH dimensions close in the file
    layout, so parquet min/max stats prune scans filtered on EITHER
    column (the Delta/Iceberg OPTIMIZE ZORDER idea, here as a pure
    expression usable with compact_sorted).

    Inputs must OCCUPY the bit width — pass each dimension through
    :func:`scale_to_bits` first so its high bits carry signal.

    Pure bit expressions (2·bits shift/mask/or terms), codegen'd; the
    same arithmetic is expressible verbatim in the SQL oracle."""
    code = F.lit(0).cast("long")
    xl = x.cast("long")
    yl = y.cast("long")
    for b in range(bits):
        xbit = F.shiftleft(F.shiftright(xl, b).bitwiseAND(F.lit(1)), 2 * b)
        ybit = F.shiftleft(F.shiftright(yl, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        code = code.bitwiseOR(xbit).bitwiseOR(ybit)
    return code
