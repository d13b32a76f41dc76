"""Benchmark command line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints one line per metric, then, as the
last line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  Exits non-zero without a result when the program is
missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import bench  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(bench.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not bench.program_present():
        print(f"perfbench: {bench.PACKAGE} is not in {bench.ROOT}", file=sys.stderr)
        return 2
    bench.prepare_env(bench.WORK)
    run = bench.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.execute()
        lines = run.report_lines()
        run.save()
    finally:
        bench.stop_spark()
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
