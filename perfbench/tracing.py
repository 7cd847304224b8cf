"""The traced run: spans around the calls into each engine layer, and
per-query job, stage and SQL-node metrics from the status API.

Spans are kept in memory (run -> query -> build | plan | exec, with a
span per ``read_table`` call under build) and written once at the end.
A layer's self time is its span minus the time its child spans cover.
Everything is measured from outside the engine: the tracer wraps the
public entry points and reads what Spark's own listeners recorded.
"""
from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path

from big_data_bowl_spark import queries as queries_mod
from big_data_bowl_spark.sources import io as io_mod

from spark_ui import StatusApi, metric_value

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
ML_QUERY = "q_submission_spine"  # holds predict_sequences' pandas UDF


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.api = StatusApi(self.sc)
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._group: str | None = None
        self._patched: list[tuple] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sid)
        return s["end"] - s["start"] - kids

    # -- job groups ----------------------------------------------------
    def group_jobs(self) -> list[int]:
        if self._group is None:
            return []
        return list(self.sc.statusTracker().getJobIdsForGroup(self._group))

    @contextmanager
    def job_group(self, group: str):
        self._group = group
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._group = None

    def wrap_read_table(self) -> None:
        """Record a span, and the jobs it launched, for every
        ``read_table`` call the query builders make."""
        inner = io_mod.read_table

        @functools.wraps(inner)
        def traced(spark, sf_dir, name):
            before = set(self.group_jobs())
            with self.span("read_table", table=name) as rec:
                df = inner(spark, sf_dir, name)
            rec["jobs"] = len(set(self.group_jobs()) - before)
            return df

        for mod in (io_mod, queries_mod):
            self._patched.append((mod, "read_table", mod.read_table))
            mod.read_table = traced

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- per-query attribution -------------------------------------------
    def pull(self, query: str, build_jobs: list[int], jobs: list[int],
             **extra) -> dict:
        """Stage and SQL-node totals of the jobs one query launched."""
        self.api.settle(jobs)
        job_rows = self.api.jobs(jobs)
        stage_ids = {s for j in job_rows for s in j["stageIds"]}
        stages = [s for s in self.api.stages(stage_ids)
                  if s.get("status") != "SKIPPED"]
        rec = {"query": query, "build_jobs": len(build_jobs),
               "jobs": len(jobs), "stages": len(stages), **extra}
        rec["tasks"] = sum(s["numCompleteTasks"] for s in stages)
        rec["executor_run_s"] = sum(s["executorRunTime"] for s in stages) / 1e3
        rec["executor_cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9
        rec["gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1e3
        rec["shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
        rec["shuffle_read_bytes"] = sum(s["shuffleReadBytes"] for s in stages)
        rec["shuffle_fetch_wait_s"] = sum(
            s["shuffleFetchWaitTime"] for s in stages) / 1e3
        rec["spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in stages)
        rec["output_bytes"] = sum(s["outputBytes"] for s in stages)
        q = [s["runTimeQuantiles"] for s in stages if "runTimeQuantiles" in s]
        rec["task_max_s"] = sum(x[1] for x in q) / 1e3
        rec["task_median_s"] = sum(x[0] for x in q) / 1e3
        node_totals: dict[str, float] = {}
        for ex in self.api.new_sql():
            ex_jobs = set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                          + ex.get("runningJobIds", []))
            if not ex_jobs & set(jobs):
                continue
            for node in ex.get("nodes", []):
                _fold_node(node, node_totals)
        rec.update(node_totals)
        self.records.append(rec)
        return rec

    def write(self, path: Path, summary: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
        path.write_text(json.dumps({"summary": summary, "queries": self.records,
                                    "spans": self.spans}, indent=1))


def _fold_node(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    metrics = {m["name"]: metric_value(m["value"])
               for m in node.get("metrics", [])}

    def add(key, metric):
        if metric in metrics:
            out[key] = out.get(key, 0.0) + metrics[metric]

    if name.startswith("Scan parquet"):
        add("scan_bytes", "size of files read")
        add("scan_rows", "number of output rows")
        add("scan_time_s", "scan time")
    elif name == "HashAggregate" or name == "ObjectHashAggregate":
        add("agg_build_s", "time in aggregation build")
    elif name == "Sort":
        add("sort_s", "sort time")
    elif name == "BroadcastExchange":
        add("broadcast_s", "time to build")
        add("broadcast_s", "time to broadcast")
    if PY_RUN in metrics:
        add("python_run_s", PY_RUN)
        add("python_start_s", PY_START)
        add("bytes_to_python", PY_SENT)
        add("bytes_from_python", PY_BACK)
        add("rows_from_python", "number of output rows")


def layer_metrics(records: list[dict], passes: int, nproc: int) -> dict:
    """Per-layer metrics, per traced pass over the workload's queries."""
    def tot(key, recs=records):
        return sum(r.get(key, 0.0) for r in recs)

    pipe = [r for r in records if r["query"] != ML_QUERY]
    ml = [r for r in records if r["query"] == ML_QUERY]
    build_s, build_jobs = tot("build_s"), tot("build_jobs")
    exec_s, run_s = tot("exec_s"), tot("executor_run_s")
    out = {
        "queries.build_s": (build_s, "s"),
        "queries.build_self_s": (tot("build_self_s"), "s"),
        "queries.build_jobs": (build_jobs, "count"),
        "sources.read_table_s": (tot("read_table_s"), "s"),
        "sources.read_table_jobs": (tot("read_table_jobs"), "count"),
        "sources.scan_bytes": (tot("scan_bytes"), "B"),
        "sources.scan_rows": (tot("scan_rows"), "count"),
        "sources.scan_time_s": (tot("scan_time_s"), "s"),
        "plans.plan_s": (tot("plan_s"), "s"),
        "plans.exchanges": (tot("exchanges"), "count"),
        "operators.exec_s": (exec_s, "s"),
        "operators.jobs": (tot("jobs"), "count"),
        "operators.stages": (tot("stages"), "count"),
        "operators.tasks": (tot("tasks"), "count"),
        "operators.executor_run_s": (run_s, "s"),
        "operators.executor_cpu_s": (tot("executor_cpu_s"), "s"),
        "operators.gc_s": (tot("gc_s"), "s"),
        "operators.shuffle_write_bytes": (tot("shuffle_write_bytes"), "B"),
        "operators.shuffle_read_bytes": (tot("shuffle_read_bytes"), "B"),
        "operators.shuffle_fetch_wait_s": (tot("shuffle_fetch_wait_s"), "s"),
        "operators.spill_bytes": (tot("spill_bytes"), "B"),
        "operators.agg_build_s": (tot("agg_build_s"), "s"),
        "operators.sort_s": (tot("sort_s"), "s"),
        "operators.broadcast_s": (tot("broadcast_s"), "s"),
        "pipeline.python_run_s": (tot("python_run_s", pipe), "s"),
        "pipeline.python_start_s": (tot("python_start_s", pipe), "s"),
        "pipeline.bytes_to_python": (tot("bytes_to_python", pipe), "B"),
        "pipeline.bytes_from_python": (tot("bytes_from_python", pipe), "B"),
        "pipeline.rows_from_python": (tot("rows_from_python", pipe), "count"),
        "ml.udf_run_s": (tot("python_run_s", ml), "s"),
        "ml.udf_rows": (tot("rows_from_python", ml), "count"),
    }
    out = {k: (v / passes, u) for k, (v, u) in out.items()}
    out["queries.s_per_build_job"] = (build_s / build_jobs if build_jobs else 0.0, "s")
    out["operators.task_skew"] = (
        tot("task_max_s") / tot("task_median_s") if tot("task_median_s") else 1.0,
        "ratio")
    # Executor time over the cores the query held for its whole span
    # (build and force: the stage totals cover the jobs of both).
    out["operators.core_busy_ratio"] = (
        run_s / ((build_s + exec_s) * nproc) if build_s + exec_s else 0.0, "ratio")
    out["pipeline.python_share"] = (
        tot("python_run_s", pipe) / run_s if run_s else 0.0, "ratio")
    return out
