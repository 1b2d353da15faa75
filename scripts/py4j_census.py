"""Count driver -> JVM py4j round trips and Janino compilations of one
benchmark pass.

    python scripts/py4j_census.py --workload lakehouse_mixed --seed 7

Runs the workload's ``prepare``, two warm passes, then one counted pass
with ``py4j.clientserver.ClientServerConnection.send_command`` wrapped.
Every round trip is charged to the operation that made it and to the
innermost engine source line (``iceberg_trino_sql_demo_spark/...:N``) on
the Python stack at the time; a call made outside the engine (workload
code, PySpark internals reached from it) is charged to ``<outside>``.
Each operation is also charged the Janino compilations Spark ran while
it was in flight (the ``CodegenMetrics`` compilation count), so
generated code that misses the codegen cache shows as compiles on a warm
pass.  Prints the totals, the per-operation counts and the ``TOP``
busiest engine lines.  The environment and the pass loop are those of
``perfbench/run.py`` (its ``_profile`` and ``Runner``, imported
unchanged) over the benchmark corpus in ``perfbench/data/sf0.1``.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import random
import shutil
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402

PKG_DIR = os.path.join(ROOT, "iceberg_trino_sql_demo_spark") + os.sep
#: engine source lines to list
TOP = 25


class Census:
    """Wraps ``send_command``; counts per operation and per engine line,
    and the compilations per operation.  Set as the run context's
    ``tracer``, so ``Runner.run_pass`` names the operation in flight."""

    def __init__(self, spark):
        self.op = "<none>"
        self.by_op: Counter = Counter()
        self.by_line: Counter = Counter()
        self.compiles: Counter = Counter()
        self._orig = None
        self._metric = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        self._reading = False
        self._c0 = 0

    def compile_count(self) -> int:
        """Janino compilations so far in this JVM; the round trip that
        reads it is not counted."""
        self._reading = True
        try:
            return self._metric.getCount()
        finally:
            self._reading = False

    def begin_op(self, name: str) -> None:
        self.op = name
        self._c0 = self.compile_count()

    def end_op(self, dt: float, t0: float) -> None:
        self.compiles[self.op] += self.compile_count() - self._c0
        self.op = "<between operations>"

    def span(self, name: str):
        return contextlib.nullcontext()

    def _site(self) -> str:
        f = sys._getframe(2)
        while f is not None:
            fn = f.f_code.co_filename
            if fn.startswith(PKG_DIR):
                return f"{os.path.relpath(fn, ROOT)}:{f.f_lineno}"
            f = f.f_back
        return "<outside>"

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self._orig = orig = ClientServerConnection.send_command
        census = self

        def send_command(conn, command):
            if not census._reading:
                census.by_op[census.op] += 1
                census.by_line[census._site()] += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._orig


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tpch_adhoc", "lakehouse_mixed"))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"census-{os.getpid()}")
    bench._profile(work)
    from perfbench import workloads

    from iceberg_trino_sql_demo_spark import operators
    from iceberg_trino_sql_demo_spark.session import get_spark

    operators.load_all()
    ctx = workloads.Ctx(data_dir=bench.CORPUS, work_dir=os.path.join(work, "run"))
    workload = workloads.WORKLOADS[args.workload]()
    runner = bench.Runner(workload, ctx)
    spark = ctx.spark = get_spark("py4j_census")
    census = Census(spark)
    try:
        workload.prepare(ctx)
        rng = random.Random(args.seed)
        for _ in range(2):
            runner.run_pass(rng, timed=False)
        ctx.tracer = census
        c0 = census.compile_count()
        census.install()
        try:
            runner.run_pass(rng, timed=False)
        finally:
            census.uninstall()
            ctx.tracer = None
        compiles = census.compile_count() - c0
    finally:
        bench._stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    total = sum(census.by_op.values())
    print(f"# py4j round trips, {args.workload} seed {args.seed}, one warm pass: {total}")
    print(f"# Janino compilations in that pass: {compiles}")
    for f in runner.failures:
        print(f"# failed op: {f['op']} ({f['how']}) {f['detail'][:200]}")
    print(f"# per operation{'round trips':>29}{'compiles':>10}")
    for op, n in census.by_op.items():
        print(f"  {op:<32}{n:>12}{census.compiles[op]:>10}")
    print(f"# top {TOP} engine source lines")
    for site, n in census.by_line.most_common(TOP):
        print(f"  {site:<64}{n:>8}")
    return 1 if runner.failures else 0


if __name__ == "__main__":
    sys.exit(main())
