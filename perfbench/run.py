#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,lookup} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Prints one JSON line of run details
(seed, row window, sample counts, canary, every end-to-end metric with
its unit), then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. See README.md."""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["ingest", "lookup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "parquet_go_spark")):
        print(f"pgsbench: no parquet_go_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from pgsbench.runner import run

    info, result = run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
