"""Small shared helpers."""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def plan_size_bytes(df) -> int:
    """Catalyst's size estimate (bytes) for ``df``'s optimized plan —
    the SAME statistic the planner compares against
    ``spark.sql.autoBroadcastJoinThreshold`` when it decides whether a
    join side broadcasts. For a bare parquet scan this is total file
    bytes × ``spark.sql.sources.fileCompressionFactor`` (file listing
    only — no Spark job, and the listing is cached per session).
    Returns -1 where the probe fails (non-file source, analysis-only
    session), which callers must treat as "unknown"."""
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts BigInts that fit a long to int; stringify the
        # rest (a >8 EiB estimate arrives as a JavaObject)
        return sz if isinstance(sz, int) else int(str(sz))
    except Exception:  # noqa: BLE001 — best-effort planner probe
        return -1


_SIZE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1024, "kb": 1024,
    "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3,
    "t": 1024**4, "tb": 1024**4,
}


def broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (suffix forms
    like ``10MB`` accepted, matching Spark's own parser for this conf);
    ≤ 0 means auto-broadcast is disabled."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*([a-z]*)", raw)
    if not m or m.group(2) not in _SIZE_SUFFIX:
        return 10 * 1024**2
    return int(m.group(1)) * _SIZE_SUFFIX[m.group(2)]


def outgrows_broadcast(df, margin: float = 1.0) -> bool:
    """True when Catalyst's size estimate for ``df`` exceeds
    ``margin`` × the session broadcast threshold — i.e. the planner
    will NOT broadcast this side. Used to route between join shapes
    whose crossover is exactly "does this side still broadcast"
    (TPC-H Q5/Q7 dim-filter-first routing, OPTIMIZATION_r11.md). When
    auto-broadcast is disabled every join shuffles, so the answer is
    True; when the size probe fails the answer is False (the
    small-scale shape — the conservative default)."""
    thr = broadcast_threshold_bytes(df.sparkSession)
    if thr <= 0:
        return True
    sz = plan_size_bytes(df)
    return sz > thr * margin if sz >= 0 else False


def checkpoint_profiled(df: DataFrame, aggs: Sequence[str]) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` that also returns the
    aggregates ``aggs`` (SQL text, each ``<expr> AS <name>``) over the
    rows it stores, as ``(stored, {name: value})``.

    The aggregates ride the checkpoint as ONE observed ``struct``
    (``DataFrame.observe``), so storing the rows and profiling them is
    one Spark job, not a checkpoint plus a separate aggregate that
    re-runs the plan. One struct, not one metric per aggregate, keeps
    the JVM round trips flat in the aggregate count. The Observation
    is filled when the checkpoint returns, also for zero rows or zero
    partitions (``count`` is 0, ``sum`` NULL); a checkpoint that fails
    raises before ``get`` could wait."""
    obs = Observation()
    stored = df.observe(obs, F.expr(f"struct({', '.join(aggs)}) AS p"))
    stored = stored.localCheckpoint(eager=True)
    return stored, obs.get["p"].asDict()


def qcol(name: str) -> Column:
    """Column reference by EXACT name — backtick-quoted so dots, spaces
    and other specials in raw CSV headers (e.g. ``Design No.``) are not
    parsed as nested-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def ensure_min_partitions(df, n: int | None = None):
    """Repartition iff it would at least DOUBLE the parallelism.

    Expression-heavy operators (minhash, simhash, language ID) are
    CPU-bound; a small parquet table often arrives as ONE file = one
    partition, serializing the whole computation. The shuffle this
    inserts is negligible next to the per-row work it parallelizes.
    No-op when the scan is already parallel (the 100 TB case).

    The 2× threshold (r7, closes the SCALE_CURVE_r06 minhash 2.41
    question): a round-robin repartition shuffles the FULL input —
    its cost grows linearly with data while its benefit vanishes as
    native parallelism approaches the core count. Measured on the
    30×-replica documents scan (30 native parts, 32 cores):
    repartition(32) 1.66 s vs no-op 1.57 s — the shuffle costs more
    than the 30→32 gain — while at 10 native parts repartition(32)
    wins 0.93 s vs 1.29 s. Repartitioning only below n/2 keeps every
    ≥2× win and drops every marginal full-data shuffle; minhash's
    30×/10× ratio falls 2.41 → ~1.7 (same-session probe, SCALING.md).

    Partition count comes from the PHYSICAL PLAN's output partitioning
    (``outputPartitioning().numPartitions()``), not ``df.rdd`` — the
    RDD probe forces a full DataFrame→RDD conversion (deserializer
    stage) per call, which showed up as constant overhead in query
    construction."""
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    parts = 0
    try:
        parts = (
            df._jdf.queryExecution().executedPlan().outputPartitioning().numPartitions()
        )
    except Exception:  # noqa: BLE001 — plan probe is best-effort
        pass
    if parts == 0:
        # File scans report UnknownPartitioning(0) from the plan probe
        # (discovered r7 — the probe NEVER no-op'd a parquet scan, so
        # every scan paid the shuffle at every scale). Estimate from
        # the leaf-file count: a metadata call, no RDD conversion.
        # File-per-partition layouts (testdata, the replica harness,
        # any sanely-written table) make this exact; a giant
        # multi-row-group single file underestimates and pays one
        # avoidable repartition — the benign direction.
        try:
            parts = len(df.inputFiles())
        except Exception:  # noqa: BLE001 — non-file source
            parts = 0
    if parts == 0:
        parts = df.rdd.getNumPartitions()
    if parts * 2 <= n:
        return df.repartition(n)
    return df
