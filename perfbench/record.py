#!/usr/bin/env python3
"""Record one untraced and one traced run of every workload, side by side.

    python3 perfbench/record.py --seed 7 --seconds 5 --out perfbench/results/traced_run.json

Run from the repository root. For each workload the record holds the run
context, the end-to-end figures of the untraced run, every per-layer
metric of the traced run, the prediction self-check, and the tracing
overhead: traced minus untraced for each workload-specific end-to-end
figure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    lines = {ln.split(" ", 1)[0]: ln.split(" ", 1)[1] for ln in out.stdout.splitlines()[:-1]
             if " " in ln}
    rec = {k: json.loads(v) for k, v in lines.items()}
    rec["result"] = json.loads(out.stdout.splitlines()[-1])
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    record = {}
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        layer = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
        record[w] = {
            "context": plain["context"],
            "end_to_end": plain["result"],
            "workload_metrics": plain["metrics"],
            "traced": traced["result"],
            "self_check": traced["selfcheck"],
            "calls_by_part": traced["scoped"],
            "tracing_overhead": {k: layer[f"e2e.{k}"] - x for k, x in plain["metrics"].items()},
        }
        print(w, "self-check:", traced["selfcheck"] or "ok", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
