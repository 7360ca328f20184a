"""Pipeline-level benchmark for fusets_spark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from --seed, drives the engine through its
public entry points, checks the outputs against numpy references and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reruns the same work
with span wrappers installed and reports the per-layer metrics. A full
report (every metric of the workload, the effective Spark conf, check
results) is printed on the line before. Exits 1 if an output check fails
and 2 if the engine sources are not found under the current directory.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

REPO = os.getcwd()


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="multiply input sizes (the smoke tests use a small value)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(REPO, "fusets_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root "
            "(fusets_spark/ not found in the current directory)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, REPO)
    args = _parse(argv)
    work = os.path.join(
        REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark, the JVM and Python temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    from perfbench.harness import Harness
    from perfbench.workloads import WORKLOADS

    h = Harness(REPO, work, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        report = WORKLOADS[args.workload](h)
    finally:
        h.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(report["full"], sort_keys=True, default=str))
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
