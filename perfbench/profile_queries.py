#!/usr/bin/env python3
"""Measure every oracled registry query on the `interactive` input, and
choose the pinned `interactive` subset from the measurement.

    python3 perfbench/profile_queries.py --seed 1 --reps 3 --out perfbench/query_profile.json
    python3 perfbench/profile_queries.py --select 8 --out perfbench/query_profile.json

The first form starts one session (local[4], one client), runs each
oracled query once cold and `--reps` times warm in registry order,
checks every output against its DuckDB oracle, and writes per query the
median build time (the builder call), the median execute time (the
action), the module the builder lives in and whether it checked
correct. Queries that write files (`ann_incremental`, through
`ensure_ivf_index`) are left out, as in the workload.

The second form reads that file and prints the stratified subset (see
`select`) with how its mix compares with the full list's.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

WRITERS = ("ann_incremental",)


def measure(seed: int, reps: int) -> dict:
    import run
    import workloads

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"profile-{seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        run.isolate(work, run.CPUS)
        ctx = workloads.Context("interactive", seed, 0, False, work, run.CPUS)
        workloads.gen.generate(ctx.warm, seed + 1, *workloads.SIZES["warmup"])
        workloads.gen.generate(ctx.data, seed, *workloads.SIZES["interactive"])
        workloads.setup(ctx)
        from tez_spark.plans.registry import all_oracles, all_queries
        from tez_spark.plans.registry import _extension_modules

        oracles = all_oracles()
        queries = all_queries()
        owner = {}
        for mod in _extension_modules():
            owner.update({k: mod.__name__ for k in mod.QUERIES})
        names = [n for n in queries if n in oracles and n not in WRITERS]
        out = {}
        for n in names:
            dags = [ctx.run_dag(n, queries[n], ctx.data) for _ in range(reps + 1)]
            warm = [d for d in dags[1:] if d.error is None]
            problems = workloads.check(ctx, dags)
            out[n] = {
                "module": owner.get(n, "tez_spark.plans.queries"),
                "cold_ms": dags[0].latency * 1000,
                "build_ms": statistics.median(
                    [(d.build - d.start) * 1000 for d in warm]) if warm else None,
                "execute_ms": statistics.median(
                    [(d.end - d.build) * 1000 for d in warm]) if warm else None,
                "ok": not problems and len(warm) == reps,
                "problem": (problems or [d.error for d in dags if d.error] or [None])[0],
            }
            print(f"{n}: {out[n]}", file=sys.stderr, flush=True)
        return {"seed": seed, "reps": reps, "queries": out}
    finally:
        os.chdir(base)
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def select(profile: dict, k: int) -> list[str]:
    """Stratified choice of k queries that checked correct: sort them by
    warm latency (build + execute) and cut the order into k strata of
    equal count. From each stratum take, among the queries of a module
    the subset does not hold yet if there are any, the one whose latency
    is nearest the stratum's geometric mean (log distance, to 0.1), and
    among those the one whose build share (build / latency) is nearest
    the stratum's median."""
    qs = {n: q for n, q in profile["queries"].items() if q["ok"]}
    lat = {n: q["build_ms"] + q["execute_ms"] for n, q in qs.items()}
    share = {n: q["build_ms"] / lat[n] for n, q in qs.items()}
    order = sorted(qs, key=lambda n: (lat[n], n))
    chosen: list[str] = []
    for i in range(k):
        stratum = order[len(order) * i // k: len(order) * (i + 1) // k]
        centre = statistics.geometric_mean([lat[n] for n in stratum])
        mid_share = statistics.median([share[n] for n in stratum])
        held = {qs[n]["module"] for n in chosen}
        chosen.append(min(stratum, key=lambda n: (
            qs[n]["module"] in held,
            round(abs(math.log(lat[n] / centre)), 1),
            abs(share[n] - mid_share), n)))
    return chosen


def summary(profile: dict, names) -> str:
    qs = profile["queries"]
    lat = [qs[n]["build_ms"] + qs[n]["execute_ms"] for n in names]
    build = [qs[n]["build_ms"] for n in names]
    return (f"{len(names)} queries: latency mean {statistics.mean(lat):.0f} ms, "
            f"geomean {statistics.geometric_mean(lat):.0f} ms, median "
            f"{statistics.median(lat):.0f} ms; build share of time "
            f"{sum(build) / sum(lat):.2f}; modules "
            f"{len({qs[n]['module'] for n in names})}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--select", type=int, default=0)
    args = ap.parse_args()
    args.out = os.path.abspath(args.out)  # measure() changes directory
    if not args.select:
        profile = measure(args.seed, args.reps)
        with open(args.out, "w") as f:
            json.dump(profile, f, indent=1, sort_keys=True)
        return 0
    with open(args.out) as f:
        profile = json.load(f)
    ok = [n for n, q in profile["queries"].items() if q["ok"]]
    chosen = select(profile, args.select)
    print("full list: " + summary(profile, ok))
    print("subset:    " + summary(profile, chosen))
    print("subset: " + ", ".join(chosen))
    return 0


if __name__ == "__main__":
    sys.exit(main())
