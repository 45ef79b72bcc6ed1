"""Closed-loop benchmark of geomesa_hive_spark.

Run from the root of a checkout that holds the ``geomesa_hive_spark``
package:

    python3 perfbench/run.py --workload spatial_query --seed 1 --seconds 25 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics named in BENCHMARK.json, ``--trace 1``
the per-layer ones. The full record of each run (samples, layout,
canary, stamps) is written under ``.perfbench_runs/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Python's hash randomization changes set/dict iteration order and
# therefore Spark plan shapes between runs; pin it before anything runs.
HASH_SEED = "0"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "geomesa_hive_spark")):
        print(f"geomesa_hive_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # Spark's Python workers inherit this environment: the hash seed
        # and the package location reach them too
        path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        # temporary files (py4j handshake, Python workers) stay in the checkout
        tmp = os.path.join(ROOT, ".perfbench_runs", "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, PYTHONHASHSEED=HASH_SEED, PYTHONPATH=path, TMPDIR=tmp)
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)] + argv, env)

    sys.path.insert(0, ROOT)
    from perfbench import harness

    if args.workload not in harness.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    result = harness.run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
