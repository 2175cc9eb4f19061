#!/usr/bin/env python3
"""Run the benchmark once per seed on one workload and report, for each
end-to-end metric, its median over the runs and the distance between its
first and third quartiles as a share of that median.

    python3 perfbench/spread.py --workload <name> --seeds 1 2 3 ... [--out file.jsonl]

Each run's result line is appended to --out when given.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {}
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not line.startswith("{"):
            print(f"seed {seed}: run failed (exit {p.returncode})")
            continue
        res = json.loads(line)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        print(f"seed {seed}: wall={time.time() - t0:.1f}s correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) >= 2:
            print(f"{m['name']}: n={len(xs)} median={stats.median(xs):.4f} "
                  f"iqr/median={stats.iqr_share(xs):.4f} bound={m['bound']}")


if __name__ == "__main__":
    main()
