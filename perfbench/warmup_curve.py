"""Record each workload's warm-up curve: op latency and JVM CPU against
op index, from the first op of fresh processes.

    python3 perfbench/warmup_curve.py --procs 3 --passes 3 > perfbench/warmup_curves.json

Run from the repository root. Each process is a normal benchmark run with
its fixed warm-up passes and ``--seconds`` set for the rest of ``passes``;
the curve is its warm-up and timed op records, in order. The fixed warm-up
count in run.py is chosen from where these curves flatten.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import NOMINAL_PASS_S, WARMUP_PASSES  # noqa: E402


def one_process(workload: str, seed: int, passes: int) -> list[dict]:
    seconds = (passes - WARMUP_PASSES) * NOMINAL_PASS_S[workload]
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        check=True, capture_output=True, text=True,
    ).stdout
    records = next(json.loads(line[4:]) for line in out.splitlines() if line.startswith("ops "))
    records = [r for r in records if r["phase"] in ("warmup", "timed")]
    return [{"op_index": i, "pass": r["pass"] + (WARMUP_PASSES if r["phase"] == "timed" else 0),
             "op": r["op"], "latency_s": round(r["latency_s"], 4), "jvm_cpu_s": round(r["jvm_cpu_s"], 3)}
            for i, r in enumerate(records)]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--procs", type=int, default=3)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--workloads", nargs="*", default=["etl_drop", "olap_star", "dedup_corpus"])
    args = ap.parse_args()
    curves = {}
    for wl in args.workloads:
        procs = [one_process(wl, seed, args.passes) for seed in range(1, args.procs + 1)]
        per_pass = [
            {"pass_latency_s": [round(sum(r["latency_s"] for r in ops if r["pass"] == p), 3)
                                for p in range(args.passes)],
             "pass_jvm_cpu_s": [round(sum(r["jvm_cpu_s"] for r in ops if r["pass"] == p), 3)
                                for p in range(args.passes)]}
            for ops in procs
        ]
        curves[wl] = {"per_process_passes": per_pass, "per_process_ops": procs}
    json.dump(curves, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
