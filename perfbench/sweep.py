"""Run the benchmark over several seeds and workloads, one run at a time.

    python3 perfbench/sweep.py --record out.jsonl --seeds 1-10 \\
        [--workloads fused_protocol,rowlocal_dirty] [--trace 0]

Each run appends its result to ``--record``; the spread of every
end-to-end metric is printed at the end (``bench_diff.py`` on the file).
Exits 1 if any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--record", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    ok = True
    for name in names:
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", name, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]),
                   "--trace", str(args.trace), "--record", args.record]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True,
                                  timeout=900)
            last = proc.stdout.strip().splitlines()[-1:] or ["(no output)"]
            print(f"{name} seed {seed}: exit {proc.returncode} {last[0]}",
                  flush=True)
            ok &= proc.returncode == 0
    if not args.trace:
        subprocess.run([sys.executable, os.path.join(HERE, "bench_diff.py"),
                        args.record], cwd=ROOT, check=False)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
