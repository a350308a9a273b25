"""Benchmark of the Kinesis sink path, its streaming and round-trip uses,
and the curation operators.

Run from the repository root:

    python3 perfbench/run.py --workload sink_bulk --seed 1 --seconds 10 --trace 0

Workloads: sink_bulk, stream_trickle, curation (see
``perfbench/workloads.py`` and ``BENCHMARK.json``). ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` prints the per-layer metrics and
writes the run's spans under ``.perfbench/traces/``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Anything that stops the run before its checks
exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.harness import Harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    h = Harness(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    # a terminated run still stops its JVM and removes its private directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    h.prepare_environment()
    try:
        h.setup()
        WORKLOADS[args.workload](h)
        result = h.finish()
    finally:
        h.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
