"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload etl_http_merge --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The seed makes the inputs; the run sets
up, times a cold pass and then warm passes until ``--seconds`` have gone
by and at least ``workloads.MIN_WARM`` warm passes ran, checks every
output, and prints one JSON object as its last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything it writes stays under ``.bench_build/``. It
exits non-zero, printing no result on standard output, when the program
cannot be run or any operation or output check failed; the result then
goes to standard error.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402


def environment(root: str) -> tuple[str, str]:
    """Keep every file Spark, Python and Java write under the checkout.
    Returns the build directory and this process's temporary directory."""
    build = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(build, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(build, "spark-local")
    # no hsperfdata files: the JVM writes those to /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    # a 2 GB driver heap, not the program's 8 GB default: every input
    # fits, and the benchmark must run beside other work on a small host
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PERFBENCH_PG_USER"] = "postgres"
    os.environ["PERFBENCH_PG_PASS"] = "trust"
    return build, tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for name in ("apitap_spark", "tests", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(root, name)):
            print(f"{name} not found: run from the root of a checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), root]
    build, tmp = environment(root)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = workloads.Runner(
            args.workload, args.seed, args.seconds, bool(args.trace), build, T_PROCESS
        ).run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if result["failed"]:
        print(json.dumps(result), file=sys.stderr)
        print(f"{result['failed']} of {result['attempted']} operations failed",
              file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
