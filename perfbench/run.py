"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate_tables_nested --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Prints a short report, then, as the last
line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Metric names, units
and the workloads are listed in BENCHMARK.json; perfbench/README.md says what
each one measures.

Everything the run writes (generated inputs, Spark scratch and warehouse,
collections, event log) goes under ``.perfbench_work/`` in the checkout,
which the run removes when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

WORKLOADS = ("migrate", "analytics_mix")


# Driver heap, fixed (see isolate).
HEAP = "2g"


def _joined(*parts: str | None) -> str:
    return " ".join(p for p in parts if p)


def isolate(root: str, work: str) -> None:
    """Point every scratch location of Spark, its Python workers and the
    package at ``work``, and run from there, so nothing lands in the
    checkout root or /tmp and no stale index from another run is reused."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = os.environ
    # Python UDF workers import the package: they need the checkout on
    # their path, which sys.path edits in this process do not give them.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    # Three task slots on a four-core host: at local[4] the task threads,
    # Python workers and JIT compiler threads share four cores, warm
    # operations ran slower and the same workload's median moved by 24-34%
    # (interquartile range over five seeds) against 10% at local[3].
    env["SPARK_GRAFT_CPUS"] = "3"
    env["TMPDIR"] = tmp
    # Every JVM (Spark's launcher too): temp files here, no hsperfdata in /tmp.
    env["JAVA_TOOL_OPTIONS"] = _joined(
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
    # The driver JVM's heap is fixed (the package's SPARK_GRAFT_DRIVER_MEM
    # sets -Xmx; -Xms goes in through spark-submit). With the default 8 GiB
    # ceiling and a growing heap, peak RSS differed by over a gigabyte
    # between runs of the same inputs. It also keeps the run small on a
    # shared host.
    env["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    env["SPARK_SUBMIT_OPTS"] = _joined(env.get("SPARK_SUBMIT_OPTS"), f"-Xms{HEAP}")
    os.chdir(work)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Migration-first benchmark.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float,
                   help="override the workload's scale factor (the "
                   "self-tests' small smoke runs use it)")
    args = p.parse_args(argv)

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, root)
    isolate(root, work)
    try:
        import workloads

        result = workloads.run(args.workload, args.seed, args.seconds,
                               bool(args.trace), work, args.sf)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
