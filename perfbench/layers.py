"""Per-layer metrics of a traced run.

Everything here is read from the benchmark's side of a layer boundary;
the engine is not instrumented.  Each operation runs its build and its
``collect()`` under two job groups of its own, ``<op>#<pass>:build``
and ``<op>#<pass>:exec``, so the jobs, stages and task time of each
part can be read back from the status store after the operation ends.
Plan-level figures come from the collected DataFrame's own query
execution: the Catalyst tracker phases and the SQL metrics that
``plans.metrics.execution_metrics`` walks.  The two sink calls the
ingest pipeline makes are timed by wrapping the names
``pipeline.write_parquet`` and ``pipeline.write_csv`` for the life of
the tracer.
"""

from __future__ import annotations

import time
from collections import defaultdict

from etl_onprem_to_cloud_spark import pipeline
from etl_onprem_to_cloud_spark.plans.metrics import execution_metrics

# SQL metric names of the Python-evaluating plan nodes (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, ArrowAggregatePython, ...).
PYTHON_WORKER_METRICS = {
    "time to start Python workers": ("udf.worker_start_s", 1e-3),
    "time to initialize Python workers": ("udf.worker_init_s", 1e-3),
    "time to run Python workers": ("udf.worker_run_s", 1e-3),
    "data sent to Python workers": ("udf.bytes_sent", 1),
    "data returned from Python workers": ("udf.bytes_received", 1),
}

# Every per-layer metric a traced run reports, with its unit.  Sums are
# per measured pass; the run reports the median over its measured passes.
METRICS = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "sqlfront.create_views_s": "s",
    "sqlfront.sql_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    "plans.optimize_s": "s",
    "plans.planning_s": "s",
    "plans.shuffle_bytes": "B",
    "plans.spill_bytes": "B",
    "plans.scan_rows": "count",
    "plans.scan_rows_per_result_row": "ratio",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "pinned.released": "count",
    "pinned.release_s": "s",
    "udf.worker_start_s": "s",
    "udf.worker_init_s": "s",
    "udf.worker_run_s": "s",
    "udf.bytes_sent": "B",
    "udf.bytes_received": "B",
    "pipeline.run_s": "s",
    "pipeline.jobs": "count",
    "pipeline.rows_per_s": "1/s",
    "sources.input_read_ratio": "ratio",
    "sources.write_parquet_s": "s",
    "sources.write_csv_s": "s",
    "sources.bytes_written_per_input_byte": "ratio",
    "curate.run_s": "s",
    "curate.jobs": "count",
    "trace.gap_s": "s",
    "trace.warm_pass_s": "s",
}


def _ratio(num, den):
    return num / den if den else 0.0


class Tracer:
    """Collects one record of layer figures per operation run."""

    def __init__(self, cores: int, titles_bytes: int, titles_rows: int):
        self.cores = cores
        self.titles_bytes = titles_bytes
        self.titles_rows = titles_rows
        self._sink_s: dict[str, float] = defaultdict(float)
        self._wrapped = {}
        for attr in ("write_parquet", "write_csv"):
            self._wrap_sink(attr)

    def _wrap_sink(self, attr):
        fn = getattr(pipeline, attr)
        key = f"sources.{attr}_s"

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._sink_s[key] += time.perf_counter() - t0

        self._wrapped[attr] = fn
        setattr(pipeline, attr, timed)

    def close(self):
        for attr, fn in self._wrapped.items():
            setattr(pipeline, attr, fn)
        self._wrapped.clear()

    def _jobs(self, sc, group):
        """Jobs, stages, tasks, task time and the time any job was running
        (the union of the jobs' intervals) of one job group."""
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict(jobs=0, stages=0, tasks=0, span_s=0.0, run_s=0.0, gc_s=0.0, input_bytes=0)
        stage_ids, intervals = set(), []
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
            job = store.job(job_id)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                )
        end = None
        for lo, hi in sorted(intervals):
            lo = lo if end is None else max(lo, end)
            if hi > lo:
                out["span_s"] += (hi - lo) / 1e3
            end = hi if end is None else max(end, hi)
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its output was reused from an earlier stage
            data = store.lastStageAttempt(sid)
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            out["run_s"] += data.executorRunTime() / 1e3
            out["gc_s"] += data.jvmGcTime() / 1e3
            out["input_bytes"] += data.inputBytes()
        return out

    def record(self, spark, op, span, df, sink_bytes=0) -> dict:
        """Layer figures of one finished operation run (``span`` holds its
        wall, build, exec and release times and its job-group tag)."""
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        build = self._jobs(sc, span["tag"] + ":build")
        exe = self._jobs(sc, span["tag"] + ":exec")
        plan = execution_metrics(df, execute=False)
        phases = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1e3
        r: dict[str, float] = defaultdict(float)
        r["wall_s"] = span["wall"]
        r["result_rows"] = span["rows"]
        r["plans.optimize_s"] = phases.get("optimization", 0.0)
        r["plans.planning_s"] = phases.get("planning", 0.0)
        r["plans.shuffle_bytes"] = plan["shuffle_bytes_written"]
        r["plans.spill_bytes"] = plan["spill_bytes"]
        r["plans.scan_rows"] = plan["scan_output_rows"]
        for _node, vals in plan["nodes"]:
            for name, (key, scale) in PYTHON_WORKER_METRICS.items():
                r[key] += vals.get(name, 0) * scale
        r["exec.s"] = exe["span_s"]
        r["exec.jobs"] = exe["jobs"]
        r["exec.stages"] = exe["stages"]
        r["exec.tasks"] = exe["tasks"]
        r["exec.gc_s"] = exe["gc_s"]
        r["exec.task_s"] = exe["run_s"]
        r["pinned.released"] = span["released"]
        r["pinned.release_s"] = span["release"]
        # Time inside the collect() that neither Catalyst's optimization
        # and planning phases nor a running job account for.
        r["trace.gap_s"] = (
            span["exec"] - exe["span_s"] - r["plans.optimize_s"] - r["plans.planning_s"]
        )
        if op.layer == "sqlfront":
            r["sqlfront.sql_s"] = span["build"]
        elif op.layer == "queries":
            r["queries.build_s"] = span["build"]
            r["queries.build_jobs"] = build["jobs"]
            r["queries.wall_s"] = span["wall"]
        elif op.layer == "pipeline":
            r["pipeline.run_s"] = span["build"]
            r["pipeline.jobs"] = build["jobs"]
            r["sources.input_bytes"] = build["input_bytes"] + exe["input_bytes"]
            r["sources.bytes_written"] = sink_bytes
            r["pipeline.wall_s"] = span["wall"]
            for key in ("sources.write_parquet_s", "sources.write_csv_s"):
                r[key] = self._sink_s.pop(key, 0.0)
        elif op.layer == "curate":
            r["curate.run_s"] = span["build"]
            r["curate.jobs"] = build["jobs"]
        return r

    def pass_metrics(self, records: list[dict]) -> dict[str, float]:
        """Per-pass layer metrics from the records of one pass."""
        tot: dict[str, float] = defaultdict(float)
        for r in records:
            for k, v in r.items():
                tot[k] += v
        out = {k: tot[k] for k in METRICS if k in tot}
        out["queries.build_share"] = _ratio(tot["queries.build_s"], tot["queries.wall_s"])
        out["plans.scan_rows_per_result_row"] = _ratio(tot["plans.scan_rows"], tot["result_rows"])
        out["exec.core_util"] = _ratio(tot["exec.task_s"], tot["exec.s"] * self.cores)
        n_ingest = sum(1 for r in records if r.get("pipeline.wall_s"))
        out["pipeline.rows_per_s"] = _ratio(self.titles_rows * n_ingest, tot["pipeline.wall_s"])
        out["sources.input_read_ratio"] = _ratio(
            tot["sources.input_bytes"], self.titles_bytes * n_ingest
        )
        out["sources.bytes_written_per_input_byte"] = _ratio(
            tot["sources.bytes_written"], self.titles_bytes * n_ingest
        )
        return out
