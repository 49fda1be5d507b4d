"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_drop --seed 1 --seconds 22 --trace 0

Run from the repository root. A run reads the sf0.01 tables under
``perfbench/data``, generates the etl report CSVs from the seed (which
also picks where each workload's op cycle starts), starts Spark as
``local[n]`` (n = min(4, usable cores)) with the shuffle partition count
passed explicitly, runs a fixed number of untimed warm-up passes, then a
fixed number of timed passes, and checks the output of every etl op, and
of every query in one untimed pass after the timed ones. The load is a
closed loop with one client: ops run back to back from this process. ``--seconds`` sets how many timed passes
run, from each workload's nominal pass time, so both commits of an A/B
run the same ops; a run is never cut by the clock.

With ``--trace 1`` every timed op runs twice, untraced and traced in
alternating order, the Spark event log is on, and the result holds the
per-layer metrics; the end-to-end metrics come from untraced runs.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (each ``{"value", "unit"}``). The lines before
it print every metric, per-query layer splits, the output check, the
host/config context and an ``ops`` line with every op's record (phase,
latency, CPU). Everything a run writes stays under
``.perfbench_work/`` in the working directory and is removed at exit,
except a traced run's spans (``spans-<workload>-seed<n>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

#: fixed untimed warm-up passes: each op kind runs once cold before
#: timing starts; every workload's latency curve flattens after its
#: first pass (warmup_curves.json), and a second warm-up pass did not
#: make etl_drop's timed ops steadier
WARMUP_PASSES = 1
#: steady pass time on a 4-core host; timed passes = --seconds / this
NOMINAL_PASS_S = {"etl_drop": 9.5, "olap_star": 9.5, "dedup_corpus": 7.3}

END_TO_END_UNITS = {
    "setup_s": "s", "warmup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_per_s": "1/s", "cpu_s_per_op": "s", "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``
    (SPARK_LOCAL_DIRS takes precedence over spark.local.dir)."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the session's own locale flags, plus temp files and Derby's
        # log kept inside the work dir
        "spark.driver.extraJavaOptions": (
            "-Duser.language=en -Duser.country=US -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={tmp}/derby.log"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM process has exited (it exits
    when its stdin, held by this process, closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


class Run:
    """Runs ops and keeps their records and check verdicts."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.records: list[dict] = []

    def op(self, spark, tracer, wl, name: str, phase: str, p: int, collect: bool = False):
        """Run one op; returns its latency (s) and result, or None on failure."""
        pid, jpid = os.getpid(), self.jvm
        self.attempted += 1
        tracer.op, tracer.label = self.attempted, name
        cpu0, jcpu0 = procstat.tree_cpu_s(pid), procstat.cpu_s([jpid])
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                res = wl.run_op(spark, tracer, name, collect)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"{phase} pass {p} op {name}: raised")
            wl.after_op()
            return None
        lat = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s(pid) - cpu0
        jcpu = procstat.cpu_s([jpid]) - jcpu0
        bad = res.check() if res.check else []
        wl.after_op()
        if bad:
            self.failed += 1
            self.problems.extend(f"{phase} pass {p} op {name}: {b}" for b in bad)
        self.records.append({
            "phase": phase, "pass": p, "op": name, "latency_s": lat,
            "tree_cpu_s": cpu, "jvm_cpu_s": jcpu, "ok": not bad,
            "traced": tracer.enabled, **res.extra,
        })
        return lat, res


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the work dir is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.abspath(os.path.join(".perfbench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def bench(args, work: str) -> int:
    isolate(work)
    # the package must import from the working directory (the repo root)
    sys.path.insert(0, os.getcwd())
    import bench as repo_bench
    from kaggle_ecommerce_etl_spark.session import get_spark
    from tracing import Tracer, parse_event_log

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    wl.prepare()
    n = cores()
    t_session = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=spark_conf(work, bool(args.trace)),
    )
    session_start_s = time.perf_counter() - t_session
    setup_s = procstat.process_age_s()
    sc = spark.sparkContext
    run = Run(jvm_pid(spark))
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "usable_cores": len(os.sched_getaffinity(0)),
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version, "python": platform.python_version(),
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "host_uptime_s": repo_bench.host_uptime_sec(),
        "tables": os.path.basename(workloads.TABLES), "amazon_rows": workloads.AMAZON_ROWS,
    }
    # one tracer, switched on only for the traced run of each op pair;
    # the layer wrappers consult it, so untraced ops record no spans
    tracer = Tracer(sc)

    # ---- warm-up: fixed passes of the timed ops, untimed
    for p in range(WARMUP_PASSES):
        for name in wl.pass_order(p):
            run.op(spark, tracer, wl, name, "warmup", p)
    warmup_s = sum(r["latency_s"] for r in run.records if r["phase"] == "warmup")

    # host-noise context, not metrics: the repository bench's frozen
    # canary plans, around the timed passes (a warm JVM reads them)
    context["canary_pre"] = {"trivial": repo_bench.trivial_canary(spark, wl.tables),
                             "shuffle": repo_bench.shuffle_canary(spark, wl.tables)}

    # ---- timed: fixed pass count; traced runs alternate off/on
    passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    restore = _instrument_layers(tracer) if args.trace else []
    gc_traced = 0.0
    worker_cpu_traced = 0.0
    try:
        pairs = 0
        for p in range(passes):
            for name in wl.pass_order(WARMUP_PASSES + p):
                if not args.trace:
                    run.op(spark, tracer, wl, name, "timed", p)
                    continue
                # each op twice, untraced and traced; which runs first
                # alternates, so the second run's warmer start cancels
                # out of the overhead
                pairs += 1
                for traced in ((False, True) if pairs % 2 else (True, False)):
                    tracer.enabled = traced
                    g0, w0 = jvm_gc_s(spark), _worker_cpu(run.jvm)
                    run.op(spark, tracer, wl, name, "timed", p)
                    if traced:
                        gc_traced += jvm_gc_s(spark) - g0
                        worker_cpu_traced += _worker_cpu(run.jvm) - w0
    finally:
        tracer.enabled = False
        for r in restore:
            r()
    peak_rss = procstat.peak_rss_mb(os.getpid())
    # ---- query outputs: one untimed pass that collects every query,
    # checked against the DuckDB oracles
    if isinstance(wl, workloads.QueryWorkload):
        collected = {}
        for name in wl.op_names(-1):
            out = run.op(spark, tracer, wl, name, "check", -1, collect=True)
            if out:
                collected[name] = out[1].collected
        for name, bad in wl.check_collected(collected).items():
            run.failed += 1
            run.problems.extend(f"oracle {name}: {b}" for b in bad)
    context["canary_post"] = {"trivial": repo_bench.trivial_canary(spark, wl.tables),
                              "shuffle": repo_bench.shuffle_canary(spark, wl.tables)}
    wl.close(spark)
    stop_jvm(spark)

    timed = [r for r in run.records if r["phase"] == "timed"]
    untraced = [r for r in timed if not r["traced"]]
    lat = [r["latency_s"] for r in untraced]
    if not lat:
        print("no timed op completed", file=sys.stderr)
        return 1
    # too few ops for any percentile with 10 beyond: the slowest op
    tail_pct, tail_v = stats.tail_percentile(lat) or (100.0, max(lat))
    metrics = {
        "setup_s": setup_s,
        "warmup_s": warmup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(lat) / sum(lat),
        "cpu_s_per_op": sum(r["tree_cpu_s"] for r in untraced) / len(untraced),
        "peak_rss_mb": peak_rss,
    }
    failed_frac = run.failed / max(1, run.attempted)
    context["op_tail"] = {"percentile": tail_pct, "samples": len(lat),
                          "beyond": len(lat) - round(tail_pct * len(lat) / 100)}
    context["timed_passes"] = passes
    context["warmup_passes"] = WARMUP_PASSES

    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("context " + json.dumps(context, sort_keys=True))
    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {END_TO_END_UNITS[k]}")
    print(f"metric failed_frac {failed_frac:.6g} fraction ({run.failed}/{run.attempted})")
    print(f"op_tail_s is p{tail_pct:.1f} of {len(lat)} timed ops")
    if run.problems:
        for p in run.problems:
            print("check FAIL " + p)
    print(f"check {'ok' if not run.problems else 'FAILED'}: {run.attempted} ops attempted, {run.failed} failed")

    print("ops " + json.dumps(run.records))

    if args.trace:
        layer = layer_metrics(tracer, parse_event_log(os.path.join(work, "eventlog")), run,
                              n, session_start_s, gc_traced, worker_cpu_traced, metrics["op_p50_s"])
        for k, (v, unit) in sorted(layer.items()):
            print(f"layer {k} {v:.6g} {unit}")
        spans = os.path.join(os.path.dirname(work), f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(spans)
        print(f"spans written to {spans}")
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()
                       if k in PER_LAYER_REPORTED}
    else:
        out_metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": not run.problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out_metrics}))
    return 0


def _worker_cpu(jvm: int) -> float:
    """CPU of the PySpark worker processes (everything under the JVM)."""
    return procstat.cpu_s([p for p in procstat.descendants(jvm) if p != jvm])


def _instrument_layers(tracer) -> list:
    """Time the package's layer calls from outside: the names
    ``run_batch`` resolves in its module are replaced by spanned ones,
    and CSV reads are counted to see how many encodings each file
    needed."""
    from pyspark.sql import readwriter

    from kaggle_ecommerce_etl_spark.pipelines import job

    restore = [
        tracer.wrap(job, "read_csv_with_encoding_fallback", "sources.read"),
        tracer.wrap(job, "with_file_order", "pipelines.build"),
        tracer.wrap(job, "clean_amazon_sale", "pipelines.build"),
        tracer.wrap(job, "clean_sale", "pipelines.build"),
        tracer.wrap(job, "clean_international_sale", "pipelines.build"),
        tracer.wrap(job, "write_csv", "sinks.csv_write"),
    ]
    orig_csv = readwriter.DataFrameReader.csv

    def counted_csv(self, *a, **kw):
        if tracer.enabled:
            tracer.counters["sources.csv_reads"] += 1
        return orig_csv(self, *a, **kw)

    readwriter.DataFrameReader.csv = counted_csv
    restore.append(lambda: setattr(readwriter.DataFrameReader, "csv", orig_csv))
    return restore


#: layers whose self time is reported per traced op
LAYERS = ["sources.read", "pipelines.build", "sinks.csv_write", "sinks.upsert",
          "sinks.append", "queries.build"]
#: construction layers: DataFrame building, including its eager jobs
CONSTRUCT = ("sources.read", "pipelines.build", "queries.build")
#: execution layers: the calls that run a plan to its sink
EXECUTE = ("sinks.csv_write", "sinks.upsert", "sinks.append", "spark.exec")
#: per-layer metrics in the result JSON: the ones every workload
#: exercises (module-specific layers are printed on the lines above)
PER_LAYER_REPORTED = [
    "session.start_s", "construct.self_s", "construct.jobs", "spark.plan_s",
    "spark.exec_s", "spark.jobs", "spark.tasks", "spark.core_util",
    "spark.shuffle_write_mb", "spark.gc_s", "trace.overhead",
]


def layer_metrics(tracer, groups: dict, run: Run, n_cores: int, session_start_s: float,
                  gc_s: float, worker_cpu_s: float, untraced_p50: float) -> dict:
    """Per traced op: each layer's self time and job count, event-log
    totals (tasks, shuffle, spill, plan time), GC and worker CPU; plus
    each registry query's construction and execution time per pass."""
    traced_ops = [r for r in run.records if r["traced"]]
    n_ops = max(1, len(traced_ops))
    self_t = tracer.self_times()
    by_layer: dict[str, list] = {}
    for s in tracer.spans:
        by_layer.setdefault(s.name, []).append(s)

    def per_op_self(names) -> float:
        return sum(self_t[s.id] for n in names for s in by_layer.get(n, [])) / n_ops

    def per_op_jobs(names) -> float:
        return sum(s.jobs for n in names for s in by_layer.get(n, [])) / n_ops

    out: dict[str, tuple[float, str]] = {"session.start_s": (session_start_s, "s")}
    for name in LAYERS:
        out[f"{name}_s"] = (per_op_self([name]), "s")
    for name in ("pipelines.build", "queries.build"):
        out[f"{name}_jobs"] = (per_op_jobs([name]), "count")
    out["construct.self_s"] = (per_op_self(CONSTRUCT), "s")
    out["construct.jobs"] = (per_op_jobs(CONSTRUCT), "count")

    reads = tracer.counters.get("sources.csv_reads", 0)
    files = len(by_layer.get("sources.read", []))
    out["sources.jobs"] = (per_op_jobs(["sources.read"]) * n_ops / reads if reads else 0.0, "count")
    out["sources.reads_per_file"] = (reads / files if files else 0.0, "ratio")
    out["sinks.csv_mb"] = (sum(r.get("csv_bytes", 0) for r in traced_ops) / 2**20 / n_ops, "MB")
    out["sinks.redelivery_rows"] = (float(sum(r.get("redelivery_rows", 0) for r in traced_ops)), "count")

    group_layer = {s.group: s.name for s in tracer.spans}
    ev = {g: v for g, v in groups.items() if g in group_layer}
    exec_wall = sum(s.end - s.start for n in EXECUTE for s in by_layer.get(n, []))
    exec_task_s = sum(v.get("task_run_ms", 0) for g, v in ev.items() if group_layer[g] in EXECUTE) / 1000
    out["spark.exec_s"] = (exec_wall / n_ops, "s")
    out["spark.plan_s"] = (sum(v.get("plan_ms", 0) for v in ev.values()) / 1000 / n_ops, "s")
    out["spark.jobs"] = (sum(v.get("jobs", 0) for v in ev.values()) / n_ops, "count")
    out["spark.tasks"] = (sum(v.get("tasks", 0) for v in ev.values()) / n_ops, "count")
    out["spark.core_util"] = (exec_task_s / (exec_wall * n_cores) if exec_wall else 0.0, "ratio")
    out["spark.shuffle_write_mb"] = (sum(v.get("shuffle_write_bytes", 0) for v in ev.values()) / 2**20 / n_ops, "MB")
    out["spark.spill_mb"] = (sum(v.get("spill_bytes", 0) for v in ev.values()) / 2**20 / n_ops, "MB")
    out["spark.gc_s"] = (gc_s / n_ops, "s")
    out["python.worker_cpu_s"] = (worker_cpu_s / n_ops, "s")
    traced_p50 = statistics.median([r["latency_s"] for r in traced_ops]) if traced_ops else 0.0
    out["trace.overhead"] = (traced_p50 / untraced_p50 if untraced_p50 else 0.0, "ratio")

    per_query: dict[str, list] = {}
    for s in tracer.spans:
        if s.name == "queries.build":
            per_query.setdefault(f"queries.build_s.{s.label}", []).append(s.end - s.start)
            per_query.setdefault(f"queries.build_jobs.{s.label}", []).append(s.jobs)
        elif s.name == "spark.exec":
            per_query.setdefault(f"spark.exec_s.{s.label}", []).append(s.end - s.start)
    for key, vals in per_query.items():
        out[key] = (sum(vals) / len(vals), "count" if "_jobs." in key else "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
