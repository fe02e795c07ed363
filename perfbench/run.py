#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload rag_surface --seed 1 --seconds 10 --trace 0

Builds graft from this checkout (once), builds the 10x replica (once),
measures, checks correctness against the DuckDB oracle, and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. See
perfbench/README.md.
"""
import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from graftbench import runner  # noqa: E402
from graftbench.workloads import WORKLOADS  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        line = runner.run(a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # no result line on any failure
        print(f"[perfbench] failed: {e}", file=sys.stderr)
        return 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
