"""Production-shaped streaming drain at scale: foreachBatch, not memory.

The registry's streaming_dedup_run / streaming_sessionize_run drain to a
MEMORY sink because their job is the oracle comparison (the drained rows
must be readable back). That harness caps the measurable scale: at the
100x replica (10M events, 13.3M streamed rows after the dup fan-out) the
driver-side in-memory table dominates wall time (108.7 s min, runs still
falling 490 -> 420 -> 109) and OOMs an 8g heap — none of which says
anything about the OPERATOR. Production drains go through foreachBatch
to a real sink (SCALING.md "Streaming" — the memory sink appears only
inside the oracle harness), so this probe measures THAT shape: the same
fixture dirs, the same dedup_stream_exact / sessionize_stateful
operators, drained with Trigger.AvailableNow into a per-batch noop
write. What grows with scale is exactly what would grow on a cluster:
file-source listing, state-store rows, shuffle — not a driver array.
Each drain is a fresh availableNow pass whose checkpoint
``run_available_now`` owns and removes, even when the drain raises: at
100x the sessionize state store holds ~10M user keys.

Usage: python scripts/streaming_drain_probe.py [replica_list]
Prints one JSON line shaped like scale_curve.py's output.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

from kaggle_ecommerce_etl_spark.queries_common import _parquet_stream
from kaggle_ecommerce_etl_spark.queries_ext import (
    dedup_stream_fixture,
    sessionize_stream_fixture,
)
from kaggle_ecommerce_etl_spark.session import get_spark
from kaggle_ecommerce_etl_spark.streaming.file_source import run_available_now
from scripts.replica_sweep import sweep


def _noop_batch(df, _batch_id) -> None:
    df.write.format("noop").mode("overwrite").save()


def publish_dedup_fixture(spark, sf_dir: str):
    """Publish (idempotently) streaming_dedup_run's own stream fixture
    and return a stream over it. Split from the drain so main() can run
    it UNTIMED — with SPARK_GRAFT_CURVE_RUNS=1 the one-time fixture
    write (13.3M rows at 100x) would otherwise land inside the t0
    window and be misattributed to the operator (ADVICE r9)."""
    prefix, frame = dedup_stream_fixture(spark, sf_dir)
    return _parquet_stream(spark, prefix, sf_dir, frame)[0]


def drain_dedup(spark, sf_dir: str) -> None:
    """streaming_dedup_run's fixture + operator, noop foreachBatch sink."""
    from kaggle_ecommerce_etl_spark.streaming.dedup import dedup_stream_exact

    stream = publish_dedup_fixture(spark, sf_dir)
    run_available_now(
        dedup_stream_exact(stream, ["event_id"]), foreach_batch=_noop_batch
    )


def publish_sessionize_fixture(spark, sf_dir: str):
    """Publish (idempotently) streaming_sessionize_run's own stream
    fixture and return a stream over it. Same untimed-publication
    contract as publish_dedup_fixture."""
    prefix, frame = sessionize_stream_fixture(spark, sf_dir)
    return _parquet_stream(spark, prefix, sf_dir, frame)[0]


def drain_sessionize(spark, sf_dir: str) -> None:
    """streaming_sessionize_run's fixture + operator, noop sink."""
    from kaggle_ecommerce_etl_spark.streaming.stateful import sessionize_stateful

    stream = publish_sessionize_fixture(spark, sf_dir)
    run_available_now(sessionize_stateful(stream), foreach_batch=_noop_batch)


DRAINS = {
    "streaming_dedup_drain": drain_dedup,
    "streaming_sessionize_drain": drain_sessionize,
}

#: Untimed fixture publication, run once per replica point before the
#: timed loop (ADVICE r9: the first timed run used to include the
#: one-time fixture build; _publish_fixture_dir is idempotent so the
#: in-loop call then costs one marker stat).
PUBLISHERS = {
    "streaming_dedup_drain": publish_dedup_fixture,
    "streaming_sessionize_drain": publish_sessionize_fixture,
}


def _prepared(name: str):
    """Prepare one drain: publish its fixture untimed, time the drain."""

    def prepare(spark, run_dir: str, _replicas: int):
        PUBLISHERS[name](spark, run_dir)
        return lambda: DRAINS[name](spark, run_dir)

    return prepare


def main() -> None:
    replicas = [
        int(r) for r in (sys.argv[1] if len(sys.argv) > 1 else "10,100").split(",")
    ]
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "3"))
    spark = get_spark("streaming-drain-probe")
    spark.range(10).count()

    out = sweep(
        spark,
        src,
        replicas,
        {name: _prepared(name) for name in DRAINS},
        n_runs=n_runs,
        canaries=(bench.trivial_canary, bench.shuffle_canary),
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
