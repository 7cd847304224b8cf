"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run generates (or reuses) the workload's inputs, builds the session the
way a user of one machine would (``local[nproc]``, ``nproc`` shuffle
partitions), stages the inputs into a run-private directory, then runs
the workload's queries as a closed loop with one client thread: each
query is timed from the ``QUERIES[q]`` call that builds it through
forcing it to the ``noop`` sink, in passes whose order the seed fixes.
After the timed passes every query's last result is collected once,
untimed, and compared with its DuckDB oracle.

With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
it pairs every query execution with a traced one and reports per-layer
metrics (see ``tracing.py``).  Human-readable lines go first; the last line
of standard output is one JSON object.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

SETUPS = 3  # session starts per run; setup_s is their median


@dataclass(frozen=True)
class Part:
    """Queries that read one generated corpus."""
    corpus: tuple[str, float]  # (generator kind, size), see inputs.corpus_dir
    tables: tuple[str, ...]  # the tables the queries read, staged every run
    queries: tuple[str, ...]


@dataclass(frozen=True)
class Workload:
    parts: tuple[Part, ...]
    warmup: str  # the fixed query every set-up runs, on the first part's corpus
    row_counts: dict = field(default_factory=dict)  # of queries without an oracle twin


# Why these workloads and sizes, and which queries were left out, is in
# WORKLOADS.md: each run pays every query's first-execution cost, and the
# whole series must fit in under an hour on a 4-core host.
WORKLOADS = {
    "spine_sf01": Workload((
        Part(("tables", 0.1),
             ("customer", "events", "lineitem", "nation", "orders", "region",
              "supplier"),
             ("q_flagship_truespeed", "q_submission_spine", "q_asof_join",
              "q_tpch_q5", "q_tpch_q18", "q_tpch_q21")),
    ), "q_tpch_q1"),
    "iterative_dedup": Workload((
        Part(("longdoc", 2000), ("documents",),
             ("q_minhash_pairs", "q_simhash", "q_lsh_precision",
              "q_near_dup_diff", "q_dedup_exact")),
        Part(("tables", 0.01), ("documents", "embeddings", "events"),
             ("q_pagerank", "q_kcore", "q_set_cover", "q_lloyd_kmeans",
              "q_dedup_canonical")),
    ), "q_dedup_exact", {"q_near_dup_diff": 0}),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="multiply every input size (tests only)")
    return p.parse_args(argv)


# -- process memory ------------------------------------------------------

def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class WorkerMemory(threading.Thread):
    """Samples the peak resident set (``VmHWM``) of the Python worker
    processes the JVM forks, which may exit before the run ends."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.jvm_pid, self.period = jvm_pid, period
        self.peak_mb = 0.0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(self.period):
            for pid in _descendants(self.jvm_pid):
                self.peak_mb = max(self.peak_mb, _vm_hwm_mb(pid))

    def finish(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


# -- helpers -------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; the maximum when there are fewer than 11."""
    xs = sorted(samples)
    k = max(0, len(xs) - 11)
    return xs[k], 100.0 * (k + 1) / len(xs)


def staged_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("part-*")
               if not p.name.endswith(".crc"))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    run_dir = ROOT / ".perfbench_cache" / "runs" / str(os.getpid())
    # Spark's block manager, Python's and the JVMs' temp files, and the
    # Python workers' import path all point inside the checkout; the JVMs
    # keep no performance-counter file in the system temp directory.
    for sub in ("local", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    try:
        return run(args, wl, nproc, run_dir)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_jvm() -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    it (its Python workers exit with it)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at end of input
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, wl: Workload, nproc: int, run_dir: Path) -> int:
    from big_data_bowl_spark.oracles import ORACLES
    from big_data_bowl_spark.plans.inspect import count_exchanges
    from big_data_bowl_spark.queries import QUERIES
    from big_data_bowl_spark.session import build_session
    from big_data_bowl_spark.sources import io as io_mod

    import inputs

    def corpus(part):
        kind, size = part.corpus
        return inputs.corpus_dir(kind, size if args.scale is None else size * args.scale)

    # Every workload's inputs and oracle answers, so that the first run in
    # a checkout generates all of them and later runs time nothing else.
    if args.scale is None:
        for part in (p for other in WORKLOADS.values() for p in other.parts):
            inputs.expected(corpus(part), part.queries, ORACLES)
    stage_dir = run_dir / "stage"
    corpora = [corpus(part) for part in wl.parts]
    queries = [q for part in wl.parts for q in part.queries]
    where = {q: str(stage_dir / c.name) for part, c in zip(wl.parts, corpora)
             for q in part.queries}
    expected = {}
    staged = []  # (generated corpus, table, its manifest entry)
    for part, c in zip(wl.parts, corpora):
        expected |= inputs.expected(c, part.queries, ORACLES)
        tables = inputs.manifest(c)["tables"]
        staged += [(c, t, tables[t]) for t in part.tables]

    # -- set-up: session start plus the fixed warm-up, several times ------
    setups, spark = [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_session(master=f"local[{nproc}]", shuffle_partitions=nproc)
        t1 = time.perf_counter()
        if i == 0:
            spark.sparkContext.setLogLevel("ERROR")
            session_start_s = t1 - t0
        force(QUERIES[wl.warmup](spark, str(corpora[0])))
        setups.append(time.perf_counter() - t0)
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    memory = WorkerMemory(jvm_pid)
    memory.start()

    tracer = None
    if args.trace:
        from tracing import Tracer, layer_metrics
        tracer = Tracer(spark)

    # -- ingest: stage every input table into the run's own directory -----
    t0 = time.perf_counter()
    for c, t, _ in staged:
        df = io_mod.read_table(spark, str(c), t)
        dest = str(stage_dir / c.name / f"{t}.parquet")
        if tracer:
            with tracer.job_group(f"{args.workload}:ingest:{t}"):
                with tracer.span("stage_parquet", table=t):
                    io_mod.stage_parquet(df, dest)
                jobs = tracer.group_jobs()
            tracer.pull(f"ingest:{t}", [], jobs)
        else:
            io_mod.stage_parquet(df, dest)
    ingest_s = time.perf_counter() - t0
    generated = sum(m["bytes"] for _, _, m in staged)
    stored = staged_bytes(stage_dir)
    ingest_records = list(tracer.records) if tracer else []
    if tracer:
        tracer.records.clear()

    if tracer:
        tracer.wrap_read_table()

    # -- timed passes ----------------------------------------------------
    rng = random.Random(args.seed)
    samples: dict[str, list[float]] = {q: [] for q in queries}
    traced_s: list[float] = []
    untraced_s: list[float] = []
    last_df, errors = {}, []
    attempted = passes = 0

    def untraced(q):
        t0 = time.perf_counter()
        df = QUERIES[q](spark, where[q])
        force(df)
        return df, time.perf_counter() - t0

    def traced(q, p):
        with tracer.job_group(f"{args.workload}:{q}:{p}"):
            with tracer.span("query", query=q) as qs:
                with tracer.span("build") as b:
                    df = QUERIES[q](spark, where[q])
                build_jobs = tracer.group_jobs()
                with tracer.span("plan") as pl:
                    exchanges = count_exchanges(df)
                with tracer.span("exec") as ex:
                    force(df)
            jobs = tracer.group_jobs()
        reads = [s for s in tracer.spans if s["parent"] == b["id"]]
        tracer.pull(q, build_jobs, jobs, build_s=b["end"] - b["start"],
                    build_self_s=tracer.self_time(b["id"]),
                    read_table_s=sum(s["end"] - s["start"] for s in reads),
                    read_table_jobs=sum(s["jobs"] for s in reads),
                    plan_s=pl["end"] - pl["start"], exchanges=exchanges,
                    exec_s=ex["end"] - ex["start"])
        return df, qs["end"] - qs["start"]

    if tracer:
        # Pairs compare warm with warm: one untimed pass first.  A query
        # that raises here raises again, and is counted, when timed.
        for q in queries:
            try:
                force(QUERIES[q](spark, where[q]))
            except Exception:
                pass
    t_start = time.perf_counter()
    while True:
        order = list(queries)
        rng.shuffle(order)
        for i, q in enumerate(order):
            runs = [untraced]
            if tracer:
                runs = [untraced, lambda q: traced(q, passes)]
                if (i + passes) % 2:
                    runs.reverse()
            for fn in runs:
                attempted += 1
                try:
                    df, dt = fn(q)
                except Exception as e:  # counted, reported, and the run goes on
                    errors.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                last_df[q] = df
                if fn is untraced:
                    samples[q].append(dt)
                    untraced_s.append(dt)
                else:
                    traced_s.append(dt)
        passes += 1
        elapsed = time.perf_counter() - t_start
        # Whole passes, as many as best fill the measuring time.
        if elapsed + 0.5 * elapsed / passes > args.seconds:
            break
    measure_s = time.perf_counter() - t_start
    jvm_peak_mb = _vm_hwm_mb(jvm_pid)
    py_peak_mb = memory.finish()
    if tracer:
        tracer.unwrap()

    # -- untimed output check: each query's last result collected once and
    # compared with its DuckDB oracle.  The oracle read the generated files
    # and the query the staged copy, so this checks the staging step too.
    mismatched = []
    for q, df in last_df.items():
        try:
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            mismatched.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
            continue
        want = expected[q]
        if want is None:  # no oracle twin: a row-count check only
            ok = args.scale is not None or len(rows) == wl.row_counts[q]
        else:
            ok = (len(rows) == want["rows"] and sorted(df.columns) == want["cols"]
                  and inputs.multiset_hash(rows, df.columns) == want["hash"])
        if not ok:
            mismatched.append(q)
    check_s = time.perf_counter() - t_start - measure_s

    failed = min(len(errors) + len(mismatched), attempted)
    correct = not errors and not mismatched and all(samples.values())
    medians = {q: statistics.median(v) for q, v in samples.items() if v}
    input_mb = generated / 1e6

    print(f"workload {args.workload}: {len(queries)} queries on "
          f"{' + '.join(c.name for c in corpora)} ({input_mb:.2f} MB, "
          f"{sum(m['rows'] for _, _, m in staged)} rows staged), "
          f"local[{nproc}], {passes} pass(es) in {measure_s:.1f} s")
    print(f"phases: set-ups {' '.join(f'{x:.2f}' for x in setups)} s, "
          f"ingest {ingest_s:.2f} s, measure {measure_s:.2f} s, "
          f"check {check_s:.2f} s")
    # Peak memory: reported by the traced run; too unsteady across runs
    # on identical input to bound (garbage-collector and task-placement
    # timing).
    print(f"jvm_peak_rss_mb = {jvm_peak_mb:.6g} MB; "
          f"py_peak_rss_mb = {py_peak_mb:.6g} MB")
    print("per-query median s: " + " ".join(
        f"{q}={v:.3f}" for q, v in sorted(medians.items())))
    for e in errors:
        print(f"error {e}")
    for m in mismatched:
        print(f"mismatch {m}")
    print(f"failed_ratio = {failed / attempted:.6g} ({failed} of {attempted})")

    if tracer:
        metrics = layer_metrics(tracer.records, passes, nproc)
        metrics["session.start_s"] = (session_start_s, "s")
        metrics["operators.jvm_peak_rss_mb"] = (jvm_peak_mb, "MB")
        metrics["pipeline.py_peak_rss_mb"] = (py_peak_mb, "MB")
        metrics["sources.write_s"] = (sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"] == "stage_parquet"), "s")
        metrics["sources.bytes_written"] = (
            sum(r["output_bytes"] for r in ingest_records), "B")
        metrics["trace.overhead_ratio"] = (sum(traced_s) / sum(untraced_s)
                                          if untraced_s else 0.0, "ratio")
        out = ROOT / ".perfbench_cache" / "traces" / f"{args.workload}-seed{args.seed}.json"
        tracer.write(out, {k: v for k, (v, _) in metrics.items()}
                     | {"stored_bytes_ratio": stored / generated,
                        "ingest": ingest_records, "passes": passes})
        print(f"trace written to {out.relative_to(ROOT)}")
    else:
        # A run holds one execution per query: too few for a steady median
        # or tail over executions.  Printed, not reported.
        xs = untraced_s or [0.0]
        tail_s, tail_pct = tail(xs)
        print(f"query_p50_s = {statistics.median(xs):.6g} s; query_tail_s = "
              f"{tail_s:.6g} s (p{tail_pct:.0f} of {len(xs)} query executions)")
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "wall_s": (sum(medians.values()), "s"),
            "query_geomean_s": (math.exp(statistics.fmean(
                math.log(v) for v in medians.values())) if medians else 0.0, "s"),
            "ingest_s": (ingest_s, "s"),
            "stored_bytes_ratio": (stored / generated, "ratio"),
        }
    for name, (v, unit) in metrics.items():
        print(f"{name} = {v:.6g} {unit}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
