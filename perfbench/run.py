"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch_adhoc --seed 1 --seconds 10 --trace 0

One process, one closed-loop client (each operation starts when the
previous one returns).  Phases: check the input corpus
(``data/sf0.1``), start the session and prepare the workload, run the
session's first pass untimed with its outputs checked against DuckDB,
then timed passes until ``--seconds`` have elapsed (at least one).
``setup_s`` runs from process start to the first timed operation, less
the corpus check and the DuckDB work.  ``--trace 1`` adds one pass with
the per-layer shims of ``trace.py`` installed.

Stdout: a table of every metric with unit and sample count, then, as the
last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics of BENCHMARK.json (or, with
``--trace 1``, its per-layer metrics).  ``--results FILE`` appends the
full run record as one JSON line, the input of ``compare.py``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_PKG = "iceberg_trino_sql_demo_spark"
#: the engine's TPC-H-style test corpus at scale 0.1, with its checksums
CORPUS = os.path.join(ROOT, "perfbench", "data", "sf0.1")


def _profile(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_GRAFT_ADAPTIVE": "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                               f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
                               "pyspark-shell",
    }
    os.environ.update(env)
    time.tzset()
    return {"cpus": cpus, "shuffle_partitions": cpus, "adaptive": False}


def _check_corpus(data_dir: str) -> None:
    """Fail unless every table file matches its recorded checksum."""
    with open(os.path.join(data_dir, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data_dir, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: {name} does not match SHA256SUMS")


def _stop(spark) -> None:
    from iceberg_trino_sql_demo_spark import operators

    operators.release_caches()
    spark.stop()


def _shutdown_jvm() -> None:
    """End the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, workload, ctx):
        self.workload, self.ctx = workload, ctx
        self.attempted = 0
        self.failures: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.kinds: dict[str, str] = {}
        self.pass_extras: list[dict] = []

    def run_pass(self, rng: random.Random, timed: bool, check: bool = False) -> float:
        """One pass; returns the sum of its operations' latencies."""
        ctx = self.ctx
        total = 0.0
        for op in self.workload.begin_pass(ctx, rng, check):
            if op.prelude is not None:
                op.prelude()
            if ctx.tracer is not None:
                ctx.tracer.begin_op(op.name)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = op.run()
                ok = True
            except Exception as exc:  # counted, reported, and the pass goes on
                ok, out = False, None
                traceback.print_exc()
                self._fail(op.name, "raised", f"{type(exc).__name__}: {exc}")
            dt = time.perf_counter() - t0
            if ctx.tracer is not None:
                ctx.tracer.end_op(dt, t0)
            if ok and check and op.verify is not None:
                try:
                    problems = op.verify(out)
                except Exception as exc:
                    problems = [f"check raised {type(exc).__name__}: {exc}"]
                if problems:
                    self._fail(op.name, "oracle", "; ".join(problems))
            if ok and op.after is not None:
                op.after()
            if ok:
                total += dt
                if timed:
                    self.samples.setdefault(op.name, []).append(dt)
                    self.kinds[op.name] = op.kind
        extras = self.workload.end_pass(ctx)
        if timed:
            self.pass_extras.append(extras)
        print(f"# pass done: {total:.3f} s of operations (timed={timed})", file=sys.stderr)
        return total

    def _fail(self, op: str, how: str, detail: str) -> None:
        self.failures.append({"op": op, "how": how, "detail": detail[:400]})
        print(f"# FAILED {op} ({how}): {detail[:400]}", file=sys.stderr)


def _collect_garbage(spark) -> None:
    """Untimed, before timed work: collect the untimed passes' garbage in
    both runtimes so that it is not collected inside a timed operation."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _phase(name: str) -> None:
    print(f"# {name} done at {time.perf_counter() - _T_PROCESS:.1f} s", file=sys.stderr)


def _metric(value, unit: str, samples: int, note: str = "") -> dict:
    return {"value": value, "unit": unit, "samples": samples, "note": note}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", help="append the full run record (JSON line) here")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, ENGINE_PKG, "__init__.py")):
        print(f"perfbench: the engine package {ENGINE_PKG}/ is not next to "
              f"perfbench/ under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import stats, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    profile = _profile(work)
    t_check = time.perf_counter()
    _check_corpus(CORPUS)
    excluded = time.perf_counter() - t_check  # benchmark work, not set-up

    from iceberg_trino_sql_demo_spark import operators
    from iceberg_trino_sql_demo_spark.session import get_spark

    operators.load_all()
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    ctx = workloads.Ctx(data_dir=CORPUS, work_dir=run_dir)
    workload = workloads.WORKLOADS[args.workload]()

    spark = None
    try:
        # -- set-up, once, cold: session start + the workload's preparation
        t_sess = time.perf_counter()
        spark = ctx.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t_sess
        workload.prepare(ctx)
        _phase("session start and preparation")
        runner = Runner(workload, ctx)
        rng = random.Random(args.seed)

        # -- warm-up pass: the session's first, untimed, checked against DuckDB
        ctx.duck = workloads.Oracle(CORPUS)
        workload.prepare_oracle(ctx)
        runner.run_pass(rng, timed=False, check=True)
        _phase("correctness pass")

        # -- timed passes, closed loop, whole passes: stop at the pass
        # boundary nearest to --seconds (always at least one pass), so a
        # pass that takes about --seconds cannot flip the pass count
        _collect_garbage(spark)
        passes, t_timed, last = 0, time.perf_counter(), 0.0
        setup_s = t_timed - _T_PROCESS - excluded - ctx.duck.seconds
        while passes == 0 or time.perf_counter() - t_timed + last / 2 <= args.seconds:
            t_pass = time.perf_counter()
            runner.run_pass(rng, timed=True)
            last = time.perf_counter() - t_pass
            passes += 1
        measured_s = time.perf_counter() - t_timed
        _phase("timed passes")

        layers = None
        if args.trace:
            from perfbench.trace import LAYER_UNITS, Tracer

            ctx.tracer = Tracer(spark)
            ctx.tracer.install()
            try:
                traced_total = runner.run_pass(rng, timed=False)
            finally:
                ctx.tracer.uninstall()
            layers = ctx.tracer.summarize()
            untraced = stats.sum_of_medians(runner.samples)
            layers["session.start_s"] = session_s
            layers["trace.overhead_frac"] = traced_total / untraced - 1
            os.makedirs(os.path.join(work, "spans"), exist_ok=True)
            spans_path = os.path.join(
                work, "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            ctx.tracer.dump(spans_path)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
            _shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    # -- metrics
    lat = [x for v in runner.samples.values() for x in v]
    n = len(lat)
    m = {
        "setup_s": _metric(setup_s, "s", 1, "process start to the first timed operation"),
        "pass_s": _metric(stats.sum_of_medians(runner.samples), "s", passes,
                          f"{len(runner.samples)} operations"),
        "latency_p50_s": _metric(statistics.median(lat), "s", n),
        "latency_p90_s": _metric(stats.tail_percentile(lat, 0.9), "s", n,
                                 f"needs >= {stats.MIN_BEYOND / 0.1:.0f} samples"),
        "failed_frac": _metric(stats.failed_frac(runner.attempted, len(runner.failures)),
                               "ratio", runner.attempted),
    }
    if "commit" in workload.kinds:
        by_kind = {k: [x for op, v in runner.samples.items() if runner.kinds[op] == k
                       for x in v] for k in ("commit", "read")}
        m["commit_p50_s"] = _metric(statistics.median(by_kind["commit"]), "s",
                                    len(by_kind["commit"]))
        m["read_p50_s"] = _metric(statistics.median(by_kind["read"]), "s",
                                  len(by_kind["read"]))
        m["written_mb"] = _metric(statistics.median(e["written_mb"] for e in runner.pass_extras),
                                  "MB", len(runner.pass_extras))

    print(f"# workload={args.workload} seed={args.seed} passes={passes} "
          f"measured_s={measured_s:.1f} profile={json.dumps(profile)}")
    print(f"# {'metric':<28}{'value':>12}  {'unit':<6}{'samples':>8}  note")
    for name, rec in m.items():
        v = "n/a" if rec["value"] is None else f"{rec['value']:.4f}"
        print(f"  {name:<28}{v:>12}  {rec['unit']:<6}{rec['samples']:>8}  {rec['note']}")
    for f in runner.failures:
        print(f"# failed op: {f['op']} ({f['how']}) {f['detail'][:200]}")
    if layers is not None:
        verdict = "" if layers["trace.attributed_frac"] >= 0.9 else "NOT "
        print(f"# per-layer, traced pass: layers {verdict}reconciled with operation "
              f"wall time within 10%")
        for name, unit in LAYER_UNITS.items():
            print(f"  {name:<28}{layers[name]:>12.4f}  {unit}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        out = {k["name"]: {"value": layers[k["name"]], "unit": k["unit"]}
               for k in spec["per_layer"]}
    else:
        out = {k["name"]: {"value": m[k["name"]]["value"], "unit": k["unit"]}
               for k in spec["end_to_end"]}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "profile": profile, "passes": passes, "session_start_s": session_s, "metrics": m, "layers": layers,
              "samples": runner.samples, "failures": runner.failures}
    _phase("run")
    if args.results:
        with open(args.results, "a") as fh:
            fh.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": not runner.failures, "attempted": runner.attempted,
                      "failed": len(runner.failures), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
