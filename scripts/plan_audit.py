"""Physical-plan audit over the whole query registry — the scale
posture, machine-checked.

For every registry query, build (don't run) the plan at a small SF and
flag the anti-patterns that kill 100 TB runs:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: O(n·m) joins.
  A few queries legitimately broadcast a tiny side into a non-equi
  join (e.g. the 12-row month lookup); those are whitelisted BY NAME
  with the reason inline, so a new unintentional one fails the audit.
- exchange count: shuffles are the scale currency; each query's count
  is recorded so a refactor that silently adds one shows up in the
  diff of this script's committed output.
- python workers (``BatchEvalPython`` / row-at-a-time UDFs): the slow
  path. Arrow nodes (``MapInPandas``/``ArrowEvalPython``) are allowed
  where contractually confined (similarity/multimodal).

Usage: python scripts/plan_audit.py [sf_dir] > PLAN_AUDIT.json
Exit code 1 if any un-whitelisted anti-pattern is found.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: queries allowed to contain a broadcast nested-loop join, with why.
BNLJ_OK = {
    # ≤12-row month-name lookup joined on a prefix expression
    # (normalize/casts.py month branch) — broadcast of a constant-size
    # side; the "loop" is over 12 rows.
    "month_prefix": "12-row month lookup broadcast into expression join",
    "pipeline_sale": "month lookup inside transform()",
    "pipeline_amazon_clean": "month lookup inside transform()",
    "pipeline_amazon_flagged": "month lookup inside transform()",
    "pipeline_international": "month lookup inside transform()",
    # exists_late_orders uses a non-equi semi join on purpose (Q4
    # shape); the probe side is date-filtered orders, the build side
    # broadcast by AQE at this SF — at scale Spark falls back to a
    # shuffled non-equi semi join on the same plan.
    "exists_late_orders": "non-equi EXISTS semi join (TPC-H Q4 shape)",
    # scalar-subquery pattern: the build side is a ONE-ROW aggregate
    # (avg threshold / corpus size) broadcast into a non-equi filter
    # join — constant-size broadcast, scale-safe.
    "parts_above_avg": "1-row avg threshold broadcast",
    # 1-row min(count/share) scale factor broadcast into the |langs|-row
    # quota table (both driver-tiny) — constant-size, scale-safe.
    "mix_rebalance": "1-row mix scale factor broadcast into lang quotas",
    "customers_no_orders": "1-row avg balance threshold broadcast",
    "tfidf_top_terms": "1-row corpus-count broadcast for idf",
    # both-sides-distributed block matmul: the 'cross' join pairs the
    # |Q|/block × |C|/block COARSE block rows (collect_list per
    # block), not raw rows — the n² lives inside bounded numpy
    # batches, and block counts are small by construction.
    "embedding_nearest": "block-pair cross of coarse matmul blocks",
    # exact-distinct (1 row) × theta-union-estimate (1 row): joining
    # the two scalar aggregates for the gate comparison — both sides
    # are single-row by construction at any scale.
    "theta_union_gate": "1-row exact × 1-row sketch-estimate gate join",
    "theta_set_algebra": "1-row exact × 1-row sketch-estimate gate join",
    "hll_union_gate": "1-row exact × 1-row sketch-estimate gate join",
    "kll_quantile_gate": "1-row exact × 1-row sketch-estimate gate join",
    # drift = vocab counts × 1-row slice totals, then × the 1-row TV
    # numerator — both broadcast sides are single-row aggregates by
    # construction at any scale (same family as tfidf's n_docs join).
    "source_token_drift": "1-row slice-totals and 1-row TV-sum broadcasts",
    # slice-id list (|slices| rows, 3 here — bounded by the monitor's
    # window count at any scale) × the vocab-sized reference counts:
    # the full-outer drift scoring needs every (slice, ref-token)
    # pair; both sides are dimension-sized, never corpus-sized.
    "streaming_drift_run": "slice-ids × reference-vocab bounded cross join",
    # 3-row literal k-list and 1-row corpus-total broadcast into the
    # vocab-sized ranked frame — both sides constant at any scale.
    "token_coverage_curve": "3-row k-list and 1-row total broadcasts",
}

#: queries allowed Arrow-batched python nodes (the documented
#: mapInPandas surfaces).
ARROW_OK_PREFIXES = (
    "cosine_",
    "embedding_",
    "ann_",
    "multimodal_",
    "dup_clusters",  # routes LSH pairs (vectorized bucket UDF)
    "udtf_",  # Arrow-batched Python UDTF (ArrowEvalPythonUDTF) — the
    # sanctioned table-function API surface, never row-pickling
    "arrow_",  # applyInArrow grouped-map (FlatMapGroupsInArrow) — the
    # custom per-group kernel tier for non-composable statistics
)


#: build-side classifications the BNLJ boundedness check accepts as
#: mechanically scale-safe (VERDICT r10 next-round #7). Anything else
#: ("keyed_agg" — bounded only by domain knowledge — or "opaque")
#: additionally requires a BNLJ_OK entry naming the reason.
BNLJ_BOUNDED = {"scalar_agg", "local_table", "tiny_dim_scan"}


def _walk(node):
    """Pre-order walk of a physical plan that sees through adaptive
    execution: an ``AdaptiveSparkPlan`` node stands for its current
    plan (``executedPlan()`` — the initial plan before execution, the
    final plan after), a query stage for the plan it wraps (``plan()``)
    and a reused exchange for the exchange it reuses (``child()``). So
    a walk finds the same operators before and after the query runs."""
    nm = node.nodeName()
    if "AdaptiveSparkPlan" in nm:
        yield from _walk(node.executedPlan())
        return
    if "QueryStage" in nm:
        yield from _walk(node.plan())
        return
    if nm == "ReusedExchange":
        yield from _walk(node.child())
        return
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _is_driver_literal(leaf) -> bool:
    """Whether a plan leaf scans rows the driver holds: a local
    relation, or an RDD scan whose lineage roots are all
    driver-parallelized collections. PySpark's
    ``createDataFrame(list)`` plans the latter (``Scan ExistingRDD``
    over a ``ParallelCollectionRDD``), not a LocalTableScan; any other
    RDD scan (a ``localCheckpoint`` result, say) stays unbounded."""
    nm = leaf.nodeName()
    if "LocalTableScan" in nm or "EmptyRelation" in nm:
        return True
    if "ExistingRDD" not in nm:
        return False
    stack, roots = [leaf.rdd()], []
    while stack:
        rdd = stack.pop()
        deps = rdd.dependencies()
        if deps.size() == 0:
            roots.append(rdd.getClass().getSimpleName())
        stack.extend(deps.apply(i).rdd() for i in range(deps.size()))
    return all(r == "ParallelCollectionRDD" for r in roots)


def _classify_build_side(node) -> str:
    """Mechanical boundedness class of one BNLJ build subtree:
    scalar_agg (an aggregate with NO grouping keys — 1 row at any
    scale), local_table (driver-literal relation, see
    :func:`_is_driver_literal`), tiny_dim_scan (the constant dims:
    nation/region/month lookup), keyed_agg (grouped aggregate —
    bounded only if the key domain is), else opaque."""
    first_agg = None
    for n in _walk(node):
        nm = n.nodeName()
        if "Aggregate" in nm and first_agg is None:
            try:
                first_agg = n.groupingExpressions().size()
            except Exception:  # noqa: BLE001 — non-standard agg node
                first_agg = -1
    if first_agg == 0:
        return "scalar_agg"
    leaves = [n for n in _walk(node) if n.children().size() == 0]
    if leaves and all(_is_driver_literal(n) for n in leaves):
        return "local_table"
    if leaves and all(
        any(t in n.toString().splitlines()[0]
            for t in ("nation.parquet", "region.parquet"))
        for n in leaves if "Scan" in n.nodeName()
    ) and any("Scan" in n.nodeName() for n in leaves):
        return "tiny_dim_scan"
    if first_agg and first_agg > 0:
        return "keyed_agg"
    return "opaque"


def _bnlj_build_classes(df) -> list[str]:
    """Classify every BroadcastNestedLoopJoin build side in the
    current physical plan (adaptive nodes and query stages walked
    through, see :func:`_walk`)."""
    out = []
    for n in _walk(df._jdf.queryExecution().executedPlan()):
        if "BroadcastNestedLoopJoin" in n.nodeName():
            side = str(n.buildSide())
            build = n.children().apply(1 if "Right" in side else 0)
            out.append(_classify_build_side(build))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from kaggle_ecommerce_etl_spark.queries import REGISTRY
    from kaggle_ecommerce_etl_spark.session import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=8)
    report: dict[str, dict] = {}
    bad = []
    for name, (fn, _oracle) in REGISTRY.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            report[name] = {"error": str(e).splitlines()[0][:200]}
            bad.append(name)
            continue
        entry = {
            "exchanges": plan.count("Exchange"),
            "cartesian": plan.count("CartesianProduct"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "py_row_udf": plan.count("BatchEvalPython"),
            "arrow_python": plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInArrow"),
        }
        flags = []
        if entry["cartesian"]:
            flags.append("CARTESIAN")
        if entry["bnlj"]:
            try:
                entry["bnlj_build"] = _bnlj_build_classes(df)
            except Exception as e:  # noqa: BLE001 — classifier best-effort
                entry["bnlj_build"] = [f"probe_error:{e}"[:120]]
            if name not in BNLJ_OK:
                flags.append("BNLJ")
            # a whitelisted site whose build side is no longer even a
            # keyed aggregate / bounded relation has DRIFTED from the
            # documented justification — flag it despite the whitelist
            if any(
                c not in BNLJ_BOUNDED and c != "keyed_agg"
                for c in entry["bnlj_build"]
            ):
                flags.append("BNLJ_UNBOUNDED_BUILD")
        if entry["py_row_udf"]:
            flags.append("PY_ROW_UDF")
        if entry["arrow_python"] and not name.startswith(ARROW_OK_PREFIXES):
            flags.append("ARROW_OUTSIDE_CONTRACT")
        if flags:
            entry["flags"] = flags
            bad.append(name)
        report[name] = entry

    out = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "flagged": sorted(bad),
        "queries": report,
    }
    print(json.dumps(out, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
