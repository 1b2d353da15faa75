"""Benchmark runner: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall-time over the headline query set (seconds).  Each query
is materialized via a noop-format write so the *full* plan executes —
df.count() would let Catalyst prune computed columns away and under-report.
A warmup query runs first so JVM classloading/JIT isn't billed to q1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_trino_sql_demo_spark import operators as _ops
from iceberg_trino_sql_demo_spark.session import get_spark

_ops.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# At bench scale (MBs) every shuffle coalesces to a handful of tasks anyway;
# a high initial partition count is pure scheduler overhead (~15% of total
# wall time measured at sf0.1).  On a real cluster this is raised to match
# data volume — AQE handles the coalescing in both regimes.
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
# Same reasoning, same escape hatch: at MB scale AQE's per-stage
# re-optimization is pure overhead (~20% of sub-second queries' wall time
# measured at sf0.1) with nothing to re-plan; a real deployment keeps the
# engine default (AQE on — skew joins, partition coalescing).
os.environ.setdefault("SPARK_GRAFT_ADAPTIVE", "false")


def _sf_label(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


#: runs per query; reported time is the MIN (steady state).  The DuckDB
#: baseline this is judged against is timed warm/in-process, so warm-vs-warm
#: is the like-for-like comparison; run 1 additionally pays Spark's one-time
#: plan analysis + whole-stage-codegen compile, and run 2 often still pays
#: C2 JIT of the generated classes (measured on the wide unrolled-dot
#: queries: 9.7 s / 3.5 s / 0.8 s across runs 1-3) — a resident engine
#: amortizes all of that across every execution, so min-of-3 is the
#: honest steady-state estimate.  All runs' numbers go to stderr.
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: adaptive plateau extension: after the base RUNS, keep re-running a query
#: only while the newest run still improves the best-so-far by >10% (up to
#: MAX_RUNS).  Fixed min-of-3 under-reports steady state exactly on the
#: JIT-heaviest queries — measured 18.8/6.7/4.6 s still descending at run 3
#: on the blocked-GEMM cosine kernel under C2 compile contention — while
#: flat queries stop at 3 runs, so total bench time barely moves but the
#: recorded warm number is the actual plateau, reproducible across hosts.
MAX_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "7"))


def _calibration(spark) -> dict:
    """Fixed-work host-speed probes (VERDICT r3 next-round #7): the same
    constant jobs every round, so cross-round per-query deltas can be
    host-normalized instead of rescued by narrative.  One DuckDB scalar
    aggregate over a generated range (in-process, no IO) and one
    no-shuffle Spark range aggregate (JVM, codegen, no scan); both
    min-of-3, seconds."""
    import duckdb

    con = duckdb.connect()
    duck = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute("SELECT sum(i * i) FROM range(20000000) t(i)").fetchall()
        duck.append(time.perf_counter() - t0)
    sp = []
    for _ in range(3):
        t0 = time.perf_counter()
        # modulo keeps the running sum far from BIGINT overflow (ANSI mode
        # errors on it); the work is still per-row arithmetic + hash-agg
        spark.range(50_000_000).selectExpr("sum(id % 1048576)").collect()
        sp.append(time.perf_counter() - t0)
    return {
        "duckdb_range_agg_s": round(min(duck), 4),
        "spark_range_agg_s": round(min(sp), 4),
    }


def main() -> None:
    spark = get_spark("bench")
    names = sorted(n for n in _ops.QUERIES if n not in _ops.NO_BENCH)
    # Warmup: exercise scan + join + agg codepaths once (JVM classload/JIT).
    _ops.QUERIES[names[0]](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        fn = _ops.QUERIES[name]
        runs = []
        while True:
            # every timed run derives its intermediates from the parquet
            # inputs: release the previous run's pins OUTSIDE the timer
            _ops.release_caches()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            if len(runs) >= max(1, MAX_RUNS):
                break
            # plateau check needs a prior run to compare against — with
            # RUNS=1 there is none and the single run is final (ADVICE r5)
            if len(runs) >= max(1, RUNS) and (
                len(runs) < 2 or runs[-1] > min(runs[:-1]) * 0.9
            ):
                break
        timings[name] = round(min(runs), 4)
        cold[name] = round(runs[0], 4)
        print(
            f"# {name}: {timings[name]:.3f}s (runs: "
            + ", ".join(f"{r:.3f}" for r in runs)
            + ")",
            file=sys.stderr,
        )
    total = round(sum(timings.values()), 4)
    # Frozen-core reporting (VERDICT r5 #6): the aggregate ratio drifts
    # with registry growth (1.24x -> 1.40x across r5 batches was set
    # growth, not code), so round-over-round comparisons use the FROZEN
    # r5-close core in bench_core.json; the full set is still reported.
    # set_hash identifies exactly which names a run benched.
    import hashlib

    core_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_core.json")
    core_names = set(json.load(open(core_path))["names"]) if os.path.exists(core_path) else set()
    core = {k: v for k, v in timings.items() if k in core_names}
    set_hash = hashlib.md5(",".join(names).encode()).hexdigest()[:12]
    core_hash = hashlib.md5(",".join(sorted(core)).encode()).hexdigest()[:12]
    # both methodologies go to the JSON (ADVICE r2): `queries`/`value` stay
    # min-of-RUNS warm (like-for-like vs the warm in-process DuckDB
    # baseline), `queries_cold`/`cold_total` are each query's FIRST run
    # including one-time plan analysis + codegen compile
    payload = json.dumps(
        {
            "metric": "total_query_wall_time",
            "value": total,
            "unit": "sec",
            "bench_set_hash": set_hash,
            "core_total": round(sum(core.values()), 4),
            "core_n": len(core),
            "core_set_hash": core_hash,
            "queries": timings,
            "queries_cold": cold,
            "cold_total": round(sum(cold.values()), 4),
            # numeric again (ADVICE r5: consumers expect an int); the
            # plateau extension is described by max_runs_per_query
            "runs_per_query": max(1, RUNS),
            "max_runs_per_query": max(1, MAX_RUNS),
            "plateau_adaptive": True,
            # the AQE setting this run actually used (ADVICE r5:
            # bench profile defaults AQE off — see comment at top —
            # while the engine default is on; record it so numbers
            # are comparable across configs)
            "adaptive": os.environ.get("SPARK_GRAFT_ADAPTIVE", "true").lower()
            != "false",
            "shuffle_partitions": int(
                os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
            ),
            "calibration": _calibration(spark),
            "sf": _sf_label(SF_DIR),
            }
    )
    print(payload)
    # Tail-truncation hardening (VERDICT r13 next-round #6): the one-line
    # JSON grows with the registry and has outrun a log-tail capture once
    # (r12's per-query map was lost to it).  Persist the identical line
    # next to bench.py so round-over-round comparisons never depend on how
    # much stdout a harness keeps.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
        "w",
    ) as fh:
        fh.write(payload + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
