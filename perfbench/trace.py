"""Traced-run instrumentation, kept entirely in the benchmark.

The traced pass wraps calls into each layer's public functions with
spans (name, start, end, parent span, operation) held in memory, tags
every operation's Spark jobs with a job group of its own, and after each
operation reads the status store (jobs, stages, executor time, shuffle,
spill), the Catalyst phase times of every query execution (through a
``QueryExecutionListener`` served over the py4j callback channel) and
the block manager's cached bytes.  Nothing in the engine changes; the
shims are installed just before the traced pass and removed after it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from collections import defaultdict

PKG = "iceberg_trino_sql_demo_spark"
_MB = 1024 * 1024

#: Table methods timed as commits, by the DML kind the engine routes to them
COMMIT_KINDS = {"append": "insert", "update": "update", "delete": "delete",
                "merge": "merge", "optimize": "optimize"}

#: every per-layer metric, with its unit (BENCHMARK.json lists the same)
LAYER_UNITS = {
    "session.start_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "pins.release_s": "s",
    "pins.cached_mb_peak": "MB",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "driver.self_s": "s",
    "jvm.gc_s": "s",
    "engine.sql_self_s": "s",
    "catalog.resolve_s": "s",
    "table.scan_plan_s": "s",
    "table.files_scanned": "count",
    "table.delete_files_scanned": "count",
    "pruning.skip_frac": "ratio",
    **{f"table.commit_s.{k}": "s" for k in COMMIT_KINDS.values()},
    "metadata.commit_s": "s",
    "metadata.mb_written": "MB",
    "writer.files_written": "count",
    "writer.mb_written": "MB",
    "trace.overhead_frac": "ratio",
    "trace.attributed_frac": "ratio",
}


def _n_files(manifest) -> int:
    counts = getattr(manifest, "counts", None)
    return counts()[0] if counts else len(manifest.data_files)


#: spans that only wrap other layers' work (the SQL frontend, the DML
#: dispatch): in the reconciliation they count only through the spans,
#: jobs and Catalyst phases inside them
WRAPPER_SPANS = ("engine.sql", "table.commit.")


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attributed_s(start: float, end: float, spans: list[tuple[str, float, float]],
                 jobs: list[tuple[float, float]],
                 phases: list[tuple[float, float]]) -> float:
    """Wall time of one operation [start, end] that a measured layer owns:
    the union of its non-wrapper spans (name, start, end), its Spark jobs
    and its Catalyst phases, clipped to the operation.  A wrapper span
    alone owns nothing, so an operation that is one ``Engine.sql`` call
    is not covered just because that call is timed."""
    ivals = [(s, e) for name, s, e in spans if not name.startswith(WRAPPER_SPANS)]
    clipped = [(max(s, start), min(e, end)) for s, e in ivals + jobs + phases]
    return _union_s([(s, e) for s, e in clipped if e > s])


class _PhaseListener:
    """py4j implementation of Spark's QueryExecutionListener: records the
    analysis / optimization / planning phase intervals of every query
    execution that completes."""

    def __init__(self):
        self.events: list[dict[str, tuple[float, float]]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = qe.tracker().phases()
        got = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                s = opt.get()
                got[name] = (s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0)
        self.events.append(got)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        # spans use perf_counter; Spark reports epoch milliseconds
        self._epoch = time.time() - time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.ops: list[dict] = []
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._listener: _PhaseListener | None = None

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "op": self._op["seq"] if self._op else None,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _enclosing(self, name: str) -> dict | None:
        for i in reversed(self._stack):
            if self.spans[i]["name"] == name:
                return self.spans[i]
        return None

    def _wrap(self, name: str, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, out)
                return out

        return shim

    # -- shims ---------------------------------------------------------
    def _patch_attr(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_function(self, module, attr: str, name: str, after=None) -> None:
        """Wrap a module-level function everywhere it was imported by name."""
        orig = getattr(module, attr)
        shim = self._wrap(name, orig, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PKG) and getattr(mod, attr, None) is orig:
                self._patch_attr(mod, attr, shim)

    def install(self) -> None:
        from iceberg_trino_sql_demo_spark import engine
        from iceberg_trino_sql_demo_spark.plans import pruning
        from iceberg_trino_sql_demo_spark.sources import (
            catalog, metadata, reader, table, writer,
        )

        def count_prune(rec, args, out):
            rec["attrs"].update(considered=_n_files(args[1]),
                                kept=len(out.data_files))
            scan = self._enclosing("table.scan_plan")
            if scan is not None:
                scan["attrs"].update(files=len(out.data_files),
                                     delete_files=len(out.delete_files))

        def count_prune_files(rec, args, out):
            if self._enclosing("pruning.prune") is None:
                files = args[0]
                rec["attrs"].update(considered=len(files) if hasattr(
                    files, "__len__") else len(out), kept=len(out))

        def count_scan(rec, args, out):
            scan = self._enclosing("table.scan_plan")
            if scan is not None:
                scan["attrs"].update(files=_n_files(args[2]),
                                     delete_files=len(args[2].delete_files))

        def metadata_bytes(rec, args, out):
            path = args[0].metadata_file(out) if isinstance(out, int) else out
            rec["attrs"]["bytes"] = os.path.getsize(path) if isinstance(
                path, str) and os.path.exists(path) else 0

        def data_files(rec, args, out):
            rec["attrs"].update(files=len(out),
                                bytes=sum(f.file_size_bytes for f in out))

        self._patch_attr(engine.Engine, "sql", self._wrap("engine.sql", engine.Engine.sql))
        self._patch_attr(catalog.Catalog, "table",
                         self._wrap("catalog.resolve", catalog.Catalog.table))
        self._patch_attr(table.Table, "df", self._wrap("table.scan_plan", table.Table.df))
        self._patch_attr(table.Table, "prune",
                         self._wrap("pruning.prune", table.Table.prune, count_prune))
        for meth, kind in COMMIT_KINDS.items():
            self._patch_attr(table.Table, meth, self._wrap(
                f"table.commit.{kind}", getattr(table.Table, meth)))
        for meth in ("commit", "write_manifest"):
            self._patch_attr(metadata.MetadataIO, meth, self._wrap(
                "metadata.commit", getattr(metadata.MetadataIO, meth), metadata_bytes))
        self._patch_function(pruning, "prune_files", "pruning.prune_files",
                             count_prune_files)
        self._patch_function(reader, "snapshot_df", "reader.snapshot_df", count_scan)
        self._patch_function(writer, "write_data_files", "writer.write", data_files)

        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)
        self._gc_start = self._gc_ms()

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def uninstall(self) -> None:
        self._gc_s = (self._gc_ms() - self._gc_start) / 1000.0
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- per-operation records ----------------------------------------
    def begin_op(self, name: str) -> None:
        seq = len(self.ops)
        self._op = {"seq": seq, "name": name, "group": f"perfbench-op-{seq}"}
        self.sc.setJobGroup(self._op["group"], name)
        self._listener.events.clear()

    def end_op(self, wall_s: float, t_start: float) -> None:
        """Attach Spark-side facts to the finished operation (untimed)."""
        op, self._op = self._op, None
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        jobs, stage_rows = [], []
        for jid in sc.statusTracker().getJobIdsForGroup(op["group"]):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            jobs.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            ids = jd.stageIds()
            for i in range(ids.size()):
                sd = store.lastStageAttempt(ids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                stage_rows.append((sd.numTasks(), sd.executorRunTime() / 1000.0,
                                   sd.executorCpuTime() / 1e9, sd.shuffleWriteBytes(),
                                   sd.memoryBytesSpilled() + sd.diskBytesSpilled()))
        cached = sum(r.memSize() + r.diskSize()
                     for r in sc._jsc.sc().getRDDStorageInfo())
        op.update(
            wall=wall_s, start=self._epoch + t_start, end=self._epoch + t_start + wall_s,
            jobs=jobs, phases=list(self._listener.events),
            stages=len(stage_rows), tasks=sum(r[0] for r in stage_rows),
            executor_run_s=sum(r[1] for r in stage_rows),
            executor_cpu_s=sum(r[2] for r in stage_rows),
            shuffle_write_b=sum(r[3] for r in stage_rows),
            spill_b=sum(r[4] for r in stage_rows), cached_b=cached)
        self.ops.append(op)

    # -- summary ---------------------------------------------------------
    def summarize(self) -> dict[str, float]:
        """Per-layer totals over the traced pass (times in seconds)."""
        m: dict[str, float] = defaultdict(float)
        dur = {i: s["end"] - s["start"] for i, s in enumerate(self.spans)}
        child = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                child[s["parent"]] += dur[i]
        considered = kept = 0
        for i, s in enumerate(self.spans):
            name, attrs = s["name"], s["attrs"]
            nested_commit = name.startswith("table.commit.") and any(
                self.spans[p]["name"].startswith("table.commit.")
                for p in self._ancestors(i))
            if name == "operators.build":
                m["operators.build_s"] += dur[i]
            elif name == "pins.release":
                m["pins.release_s"] += dur[i]
            elif name == "engine.sql":
                m["engine.sql_self_s"] += dur[i] - child[i]
            elif name == "catalog.resolve":
                m["catalog.resolve_s"] += dur[i]
            elif name == "table.scan_plan":
                m["table.scan_plan_s"] += dur[i]
                m["table.files_scanned"] += attrs.get("files", 0)
                m["table.delete_files_scanned"] += attrs.get("delete_files", 0)
            elif name in ("pruning.prune", "pruning.prune_files") and "kept" in attrs:
                considered += attrs["considered"]
                kept += attrs["kept"]
            elif name.startswith("table.commit.") and not nested_commit:
                m[f"table.commit_s.{name.rsplit('.', 1)[1]}"] += dur[i]
            elif name == "metadata.commit":
                m["metadata.commit_s"] += dur[i]
                m["metadata.mb_written"] += attrs.get("bytes", 0) / _MB
            elif name == "writer.write":
                m["writer.files_written"] += attrs.get("files", 0)
                m["writer.mb_written"] += attrs.get("bytes", 0) / _MB
        m["pruning.skip_frac"] = (considered - kept) / considered if considered else 0.0
        wall = attributed = 0.0
        for op in self.ops:
            build = [s for s in self.spans
                     if s["op"] == op["seq"] and s["name"] == "operators.build"]
            for b in build:
                lo, hi = self._epoch + b["start"], self._epoch + b["end"]
                m["operators.eager_jobs"] += sum(1 for s, _ in op["jobs"] if lo <= s <= hi)
            job_wall = _union_s(op["jobs"])
            m["spark.jobs"] += len(op["jobs"])
            m["spark.job_wall_s"] += job_wall
            m["driver.self_s"] += op["wall"] - job_wall
            for key, field in (("spark.stages", "stages"), ("spark.tasks", "tasks"),
                               ("spark.executor_run_s", "executor_run_s"),
                               ("spark.executor_cpu_s", "executor_cpu_s")):
                m[key] += op[field]
            m["spark.shuffle_write_mb"] += op["shuffle_write_b"] / _MB
            m["spark.spill_mb"] += op["spill_b"] / _MB
            m["pins.cached_mb_peak"] = max(m["pins.cached_mb_peak"], op["cached_b"] / _MB)
            for ev in op["phases"]:
                for phase, (s, e) in ev.items():
                    m[f"catalyst.{phase}_s"] += e - s
            # layer reconciliation: the share of the operation's wall time
            # that a measured layer owns
            spans = [(s["name"], self._epoch + s["start"], self._epoch + s["end"])
                     for s in self.spans if s["op"] == op["seq"]]
            attributed += attributed_s(
                op["start"], op["end"], spans, op["jobs"],
                [iv for ev in op["phases"] for iv in ev.values()])
            wall += op["wall"]
        m["trace.attributed_frac"] = attributed / wall if wall else 0.0
        m["jvm.gc_s"] = self._gc_s
        return {k: m.get(k, 0.0) for k in LAYER_UNITS if k not in (
            "session.start_s", "trace.overhead_frac")}

    def _ancestors(self, i: int):
        p = self.spans[i]["parent"]
        while p is not None:
            yield p
            p = self.spans[p]["parent"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"epoch_offset": self._epoch, "spans": self.spans,
                       "ops": self.ops}, fh)
