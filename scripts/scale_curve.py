"""Multi-point engine scaling curve over derived replicas of sf0.1.

BENCH's sf1 section gives ONE scale-up ratio per query (sf0.1 → 10×).
A single ratio cannot distinguish "linear with fixed overhead" from
"superlinear but small at 10×" — this script adds further points
(default 10× and 30×) in ONE warm process, using the same replica
builder (bench._build_sf1, decorrelated: salted doc tokens, key-offset
facts, rotated embeddings) and the same timing discipline (noop sink,
min-of-2 per point, first run absorbs codegen for that data scale).

Usage:
    python scripts/scale_curve.py [replica_list] [query ...]
    python scripts/scale_curve.py 10,30 minhash_signatures dup_clusters

Prints one JSON line: {"points": {"10": {q: sec}, "30": {q: sec}},
"ratio_30_over_10": {q: r}} — for linear operators r ≈ 3 (×3 data);
for the exact-pair quadratic contract (semantic_dedup_keep) r ≈ 9
is the EXPECTED reading, anchoring SCALING.md's crossover analysis
with a second measured point.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from kaggle_ecommerce_etl_spark.queries import REGISTRY
from kaggle_ecommerce_etl_spark.session import get_spark
from scripts.replica_sweep import sweep

DEFAULT_QUERIES = [
    "conflict_split_flagged",
    "revenue_by_nation",
    "word_jaccard_pairs",
    "minhash_signatures",
    "dup_clusters",
    "ngram_novelty",
    "lang_confusion",
    "corpus_pipeline",
    "semantic_dedup_keep",  # quadratic by contract — the anchor point
]


def _noop_query(name: str):
    """Prepare registry query ``name``: build + noop write is timed."""
    fn, _oracle = REGISTRY[name]

    def prepare(spark, run_dir: str, _replicas: int):
        def timed() -> None:
            fn(spark, run_dir).write.format("noop").mode("overwrite").save()

        return timed

    return prepare


def main() -> None:
    replicas = [
        int(r) for r in (sys.argv[1] if len(sys.argv) > 1 else "10,30").split(",")
    ]
    names = sys.argv[2:] or DEFAULT_QUERIES
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # runs per (point, query): min-of-2 assumes a quiet host; on a
    # noisy hypervisor day (r7: same-plan runs varied 2-5x in BOTH
    # directions inside one session, invisible to guest-side steal
    # accounting) raise this so min-of-N can reject the noise
    n_runs = int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "2"))
    spark = get_spark("scale-curve")
    spark.range(10).count()  # JVM warm

    # Host-noise references measured once per scale point, over the
    # SOURCE tables so each point's readings carry their own
    # host-state stamp. The frozen plans are bench.py's module-level
    # trivial_canary/shuffle_canary — ONE definition (ADVICE r8: a
    # verbatim copy here could drift and silently break cross-artifact
    # noise adjudication); scale_curve already imports bench.
    out = sweep(
        spark,
        src,
        replicas,
        {name: _noop_query(name) for name in names},
        n_runs=n_runs,
        canaries=(bench.trivial_canary, bench.shuffle_canary),
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
