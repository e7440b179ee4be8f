#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread (Q3 − Q1 as a share of the median), against the
bounds in BENCHMARK.json.

    python3 perfbench/spread.py --workload geobuf_store --seeds 1-10 [--out runs.jsonl]

Runs are sequential. Each run's full report line is appended to --out when
given, so two commits can be compared run by run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out", type=Path)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in bounds}
    walls = []
    for seed in args.seeds:
        t0 = time.time()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": walls[-1], "result": result,
                                    "report": report}) + "\n")
        for k in values:
            values[k].append(result["metrics"][k]["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)

    print(f"\n{args.workload}: {len(args.seeds)} runs, wall {min(walls):.1f}–{max(walls):.1f} s")
    for k, v in values.items():
        med = statistics.median(v)
        if len(v) >= 2:
            q1, _, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        print(f"  {k:14s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
