#!/usr/bin/env python3
"""openmldb_spark benchmark: one workload, one seed, one record.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Run from the repository root. The command generates the workload's input
from the seed (cached, not timed), starts Spark on ``local[4]``, runs the
workload for ``--seconds``, checks every output against DuckDB, and prints
the metrics. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced operations with operations that record a span around every layer
call, and reports the per-layer metrics; the full report and the spans go
to ``perfbench/.work/trace-<workload>-s<seed>.json``. See DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "openmldb_spark", "__init__.py")):
        print("perfbench: openmldb_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import gen
    import harness
    import workloads
    W = workloads.WORKLOADS.get(args.workload)
    if W is None:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    out_root = os.path.join(HERE, ".work")
    work = os.path.join(out_root, f"{W.name}-s{args.seed}-{os.getpid()}")
    harness.set_env(root, work)
    data = gen.dataset(W.params, args.seed, os.path.join(HERE, ".cache"))
    try:
        if args.trace:
            import traced
            record = traced.run(W, data, work, args.seed, args.seconds, out_root)
        else:
            record = harness.run(W, data, work, args.seed, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
