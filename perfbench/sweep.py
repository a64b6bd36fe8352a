#!/usr/bin/env python3
"""Run the benchmark over several seeds and append one JSON record per
run to a file that compare.py reads.

    python3 perfbench/sweep.py --out parent.jsonl --seeds 1-10
    python3 perfbench/sweep.py --out parent.jsonl --seeds 1-3 --workloads curation --trace 1

Runs are sequential, one process each, from the current directory (the
root of the checkout under test).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": s, "trace": args.trace,
                   "exit": p.returncode, "wall_s": time.time() - t0,
                   "result": json.loads(lines[-1]) if p.returncode == 0 and lines else None}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            r = rec["result"] or {}
            print(f"{w} seed={s} exit={p.returncode} wall={rec['wall_s']:.1f}s "
                  f"correct={r.get('correct')} failed={r.get('failed')}/{r.get('attempted')}",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
