#!/usr/bin/env python3
"""Make a seed's inputs and oracles for one workload.

    python3 perfbench/prepare.py --workload NAME --seed N

Run as its own process by ``run.py``, so data generation, DuckDB and
the expected-table build never count in the driver's peak memory. It
works in two phases. First it makes the inputs and prints them as one
JSON line. Then it waits for a line on standard input, which ``run.py``
sends once the timed cold set-up is over, so the oracles' CPU load runs
alongside the untimed warm-up pass only. Last it prints each query's
oracle parquet file as a second JSON line. Everything is cached under
``perfbench/.work`` and reused for a seed seen before.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import inputs
import oracle
from paths import ROOT, WORK, environment
from workloads import WORKLOADS


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    environment()
    workload = WORKLOADS[args.workload]

    sf_dir = inputs.star_tree(ROOT, WORK, args.seed)
    print(json.dumps({"sf_dir": sf_dir}), flush=True)
    if not sys.stdin.readline():  # the run ended before its set-up did
        return
    # The mm_* oracles read expected tables built for the listed trees.
    os.environ["SPARK_GRAFT_MM_EXPECTED_SFS"] = sf_dir
    expected = oracle.compute(list(workload.queries), sf_dir, WORK / "oracles")
    print(json.dumps({"expected": expected}), flush=True)


if __name__ == "__main__":
    main()
