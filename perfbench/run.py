"""Flight-pipeline benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints a host line, then, as the last line,
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
Exits non-zero when any correctness check fails or the engine package is
not present. Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


#: workload name -> (module, class)
WORKLOADS = {
    "poll_stream": ("pipeline", "PollStream"),
    "lake": ("lake", "Lake"),
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "aws_flight_data_pipeline_spark")):
        print(f"engine package aws_flight_data_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    module, cls = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(module), cls)()
    result, report = harness.run(ROOT, workload, args.seed, args.seconds, bool(args.trace))
    harness.print_result(result, report, os.path.join(HERE, "out"))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
