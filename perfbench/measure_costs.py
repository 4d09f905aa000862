#!/usr/bin/env python3
"""Measure the per-query cost table that the pipeline_batch draw stratifies by.

    python3 perfbench/measure_costs.py [--seed 1]

Run from the repository root. Builds the harness if needed, generates the
pipeline_batch tables from the seed, then calls every `SparkEntry` query
(q21-q23 and q47 excepted) once cold and once timed on the pipeline_batch
session (local[nproc]), and writes perfbench/query_costs.json:
{name: timed wall in seconds}. Queries that throw on the generated tables
are left out, so the draw never picks them. Takes about ten minutes on
4 cores.
"""
import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    classpath, catalog = run.build()
    names = sorted(n for n in catalog if n.split("_", 1)[0] not in gen.EXCLUDED)
    work = os.path.join(run.HERE, "work", f"costs-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        gen.write_tables(args.seed, run.PIPE_SF, data)
        plan = {"workload": "pipeline_batch", "seconds": 0, "trace": False,
                "cores": len(os.sched_getaffinity(0)), "max_requests": len(names),
                "data_dir": data, "work_dir": work, "warmup": [],
                "deck": [{"kind": "pipe", "name": n} for n in names]}
        result = run.run_harness(classpath, plan, 4096, 3600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    costs = {names[r["deck"]]: round(r["wall_ms"] / 1e3, 3)
             for r in result["requests"] if r["ok"]}
    for r in result["requests"]:
        if not r["ok"]:
            run.log(f"left out {names[r['deck']]}: {r['error']}")
    with open(os.path.join(run.HERE, "query_costs.json"), "w") as f:
        json.dump(costs, f, indent=0, sort_keys=True)
        f.write("\n")
    run.log(f"{len(costs)} of {len(names)} queries timed")


if __name__ == "__main__":
    main()
