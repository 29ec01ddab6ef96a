#!/usr/bin/env python3
"""Repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload etl_daily --seed 1 \
        --seconds 12 --trace 0

Run it from the repository root. It generates every input from ``--seed``
under ``.perfbench_work/`` in that root, starts a local Spark session,
measures the workload for ``--seconds`` seconds, checks the outputs and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. The line
before it records the environment; the full per-operation record goes to
``.perfbench_out/<workload>-seed<seed>-trace<trace>.json``.

Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_engineering__spark",
                                       "__init__.py")):
        print("perfbench: the program package data_engineering__spark is "
              "not next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        result, detail = harness.run(WORKLOADS[args.workload](), args.seed,
                                     args.seconds, bool(args.trace), work,
                                     START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps({"env": detail["env"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
