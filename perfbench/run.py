"""Tick-engine benchmark: builds a seeded tick warehouse, drives one
workload through the engine's public API for a fixed time, checks every
answer against an independent model and prints the metrics.

Run from the repository root (see perfbench/README.md):

    python3 perfbench/run.py --workload dashboard_rollup --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) that
BENCHMARK.json declares. The lines before it print every metric of the
run by name and unit. A traced run also writes its spans and per-operation
stage records to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _jsonable(rec: dict) -> dict:
    return {k: v for k, v in rec.items() if k not in ("df", "result")}


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", default=0, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isfile(os.path.join(ROOT, "tickdb_spark", "__init__.py")):
        print(f"perfbench: no tickdb_spark package in {ROOT}; run it from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from metrics import assemble
    from workloads import run_workload

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        run = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = assemble(run)

    checked = run["ops"] + run["verify"]
    failures = [r for r in checked if not r["ok"]]
    for rec in failures[:5]:
        why = rec.get("error", "wrong answer").strip().splitlines()[-1]
        print(f"perfbench: FAILED {rec['kind']} {json.dumps(rec.get('spec'))}: {why}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for section in ("end_to_end", "per_layer", "report"):
        for name, m in sorted(metrics[section].items()):
            print(f"{section:>10} {name} = {m['value']:.6g} {m['unit']}")
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "metrics": metrics,
                    "ops": [_jsonable(r) for r in checked],
                    "spans": run["spans"],
                },
                f,
            )
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    section = "per_layer" if args.trace else "end_to_end"
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": len(checked),
                "failed": len(failures),
                "metrics": metrics[section],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
