"""The replica sweep shared by the scaling probes.

``scale_curve.py``, ``pipeline_decade_probe.py`` and
``streaming_drain_probe.py`` all measure the same way: for each
replica count, build (or reuse) bench's derived replica of the source
tables, stamp the point with the host-noise canaries, then time each
op min-of-N. This module is that loop; each probe supplies only its
ops, its canaries and, where it has one, its row count per point.

Every op is PREPARED once per point, untimed — fixture publication
goes there, so a one-time fixture write never lands inside the timed
window (ADVICE r9) — and the callable the preparation returns is what
gets timed.
"""

from __future__ import annotations

import sys
import time
from typing import Callable

import bench


def build_replica(spark, src: str, replicas: int) -> str:
    """bench's derived replica of ``src`` at ``replicas``× (decorrelated
    keys, salted tokens, rotated embeddings); cached per replica count."""
    return bench._build_sf1(spark, src, replicas)


def sweep(
    spark,
    src: str,
    replicas: list[int],
    ops: dict[str, Callable],
    *,
    n_runs: int,
    canaries: tuple[Callable, Callable],
    point_rows: Callable | None = None,
    build: Callable = build_replica,
    clock: Callable[[], float] = time.time,
) -> dict:
    """Run the sweep and return the probe's JSON record.

    - ``ops``: name → ``prepare(spark, run_dir, replicas)``, called
      untimed once per point; it returns the zero-argument callable
      that is timed ``n_runs`` times (min kept).
    - ``canaries``: the (trivial, shuffle) frozen plans, each called as
      ``canary(spark, src)`` and kept min-of-2: when ``build`` returns
      a cached dir the canary is the process's first parquet work and
      one reading pays one-time JIT (r9: 2.5 s / 5.0 s against
      0.1-0.3 / 0.6-1.0 bands, SCALE_CURVE_r09_DECADE_EXT.json).
    - ``point_rows``: optional ``(spark, run_dir, replicas) → rows``,
      untimed; adds ``fixture_rows`` and ``rows_ratio``, the data-volume
      denominator for the ratio readers.

    Replica counts are sorted so ``ratio_<hi>_over_<lo>`` never
    inverts. One stderr line per (point, op)."""
    replicas = sorted(replicas)
    trivial, shuffle = canaries
    points: dict[str, dict[str, float]] = {}
    run_detail: dict[str, dict[str, list[float]]] = {}
    canary_per_point: dict[str, float] = {}
    shuffle_per_point: dict[str, float] = {}
    fixture_rows: dict[str, int] = {}
    for r in replicas:
        run_dir = build(spark, src, r)
        if point_rows is not None:
            fixture_rows[str(r)] = point_rows(spark, run_dir, r)
        canary_per_point[str(r)] = min(trivial(spark, src) for _ in range(2))
        shuffle_per_point[str(r)] = min(shuffle(spark, src) for _ in range(2))
        timings: dict[str, float] = {}
        detail: dict[str, list[float]] = {}
        for name, prepare in ops.items():
            timed = prepare(spark, run_dir, r)
            runs = []
            for _ in range(n_runs):
                t0 = clock()
                timed()
                runs.append(clock() - t0)
            timings[name] = round(min(runs), 3)
            detail[name] = [round(x, 2) for x in runs]
            print(f"# {r}x {name}: {timings[name]}s (runs {detail[name]})",
                  file=sys.stderr)
        points[str(r)] = timings
        run_detail[str(r)] = detail

    out: dict = {"points": points, "unit": "sec", "agg": f"min-of-{n_runs}"}
    if point_rows is not None:
        out["fixture_rows"] = fixture_rows
    out.update(
        canary_per_point=canary_per_point,
        shuffle_canary_per_point=shuffle_per_point,
        run_detail=run_detail,
    )
    if len(replicas) >= 2:
        lo, hi = str(replicas[0]), str(replicas[-1])
        out[f"ratio_{hi}_over_{lo}"] = {
            q: round(points[hi][q] / points[lo][q], 2)
            for q in points[lo]
            if points[lo].get(q)
        }
        if point_rows is not None:
            out["rows_ratio"] = round(
                fixture_rows[hi] / max(fixture_rows[lo], 1), 2
            )
    return out
