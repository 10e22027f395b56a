"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Generates the input
tables (once per checkout, under the work directory), runs one workload,
checks every output, and prints as the last line of standard output one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
ones. Exits non-zero without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_common as bc  # noqa: E402

WORKLOADS = ("rest_mixed", "analytics_batch")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for needed in ("vivace_graph_v3_spark/__init__.py", "tools/check_contract.py"):
        if not os.path.isfile(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    work, scratch = bc.configure_env(root)
    sys.path.insert(0, root)
    try:
        import datagen

        data_dir = datagen.ensure_data(os.path.join(work, "data"), scratch)
        if args.workload == "rest_mixed":
            import rest_workload as workload
        else:
            import analytics_workload as workload
        out = workload.run(root, work, scratch, data_dir, args.seed,
                           args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for r in out["failed"][:10]:
        print(f"perfbench: failed: {r}", file=sys.stderr)
    units = out["units"]
    print(json.dumps({
        "correct": not out["failed"],
        "attempted": len(out["results"]),
        "failed": len(out["failed"]),
        "metrics": {k: {"value": out["metrics"][k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
