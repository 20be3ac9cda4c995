"""Benchmark of the declarative validation path, driven from outside.

    python3 perfbench/run.py --workload within_suite --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One process, one driver thread, closed
loop: each operation starts when the previous one returned.  An operation
is one ``Constraint.test()`` call or one streaming micro-batch.  A run
stages seeded inputs, computes the expected outcomes with DuckDB, starts
Spark through the program's ``get_spark``, makes one cold pass and then
warm passes until ``--seconds`` have elapsed, at least ``MIN_OPS``
operations were timed and at least two warm passes ran.  Every pass builds fresh requirement and constraint
objects, so no pass is served from a constraint's own result cache.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``.  The lines
before it repeat the figures for a reader.  Scratch files live under
``.perfbench/`` in the working directory; only a traced run's span dump
(``.perfbench/out/``) outlives the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WORKLOADS = ("within_suite", "between_suite")


def _process_start() -> float:
    """``time.perf_counter()`` reading of this process's start."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _parse(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", type=float, default=1.0,
                        help="multiplier of the input row counts (self-check)")
    return parser.parse_args(argv)


def _environment(work: str) -> None:
    """Keep Spark, the JVM and temp files inside the work directory and
    the JVM heap modest; ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY``
    already set in the environment win."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JDK_JAVA_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
    )))


def main(argv=None) -> int:
    process_start = _process_start()
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "datajudge_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding datajudge_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work)
        from perfbench.workloads import measure

        result = measure(args, work, process_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _report(args, result)
    return 0


def _report(args, result) -> None:
    from perfbench.workloads import WORK_UNIT

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"op_samples={result['op_samples']} attempted={result['attempted']} "
          f"failed={result['failed']} "
          f"failed_frac={result['failed'] / result['attempted']:.6f} "
          f"work_unit={WORK_UNIT}")
    for name, metric in result["metrics"].items():
        print(f"  {name:<42} {metric['value']:>16.6f} {metric['unit']}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))


if __name__ == "__main__":
    sys.exit(main())
