"""The benchmark's own test: every workload twice at a tiny input size.

    python3 perfbench/test_counts.py [workload ...]

Checks that an untraced run emits every end-to-end metric and a traced
run every per-layer metric of ``BENCHMARK.json``, each with its unit, and
that the deterministic counts repeat exactly between two traced runs.
Queries whose own counts differ between the runs are listed, not failed:
some fixpoint loops launch a different number of jobs on identical input.
Exits non-zero on a failure.
"""
from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCALE = 0.1  # of every input: sf0.01 and sf0.001 tables, 200 long documents
REPEATING = ("plans.exchanges", "sources.bytes_written", "queries.build_jobs",
             "stored_bytes_ratio")
PER_QUERY = ("exchanges", "build_jobs")


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", str(SCALE)]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def check_units(result: dict, declared: list[dict], label: str) -> list[str]:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    errs = [f"{label}: {k} missing" for k in want if k not in got]
    errs += [f"{label}: {k} has unit {got[k]['unit']}, not {u}"
             for k, u in want.items() if k in got and got[k]["unit"] != u]
    errs += [f"{label}: {k} is not declared" for k in got if k not in want]
    return errs


def trace_file(workload: str, seed: int) -> dict:
    return json.loads((ROOT / ".perfbench_cache" / "traces"
                       / f"{workload}-seed{seed}.json").read_text())


def main(names: list[str]) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors: list[str] = []
    for w in names or [x["name"] for x in bench["workloads"]]:
        plain = run(w, 1, 0)
        errors += check_units(plain, bench["end_to_end"], f"{w} --trace 0")
        if not plain["correct"]:
            errors.append(f"{w}: outputs do not match their oracles")
        traces = []
        for seed in (1, 2):
            result = run(w, seed, 1)
            if seed == 1:
                errors += check_units(result, bench["per_layer"], f"{w} --trace 1")
            traces.append(trace_file(w, seed))
        a, b = (t["summary"] for t in traces)
        qa, qb = ({r["query"]: [r[k] for k in PER_QUERY] for r in t["queries"]}
                  for t in traces)
        unsteady = sorted(q for q in qa if qa[q] != qb.get(q))
        for k in REPEATING:
            if a[k] != b[k] and not unsteady:
                errors.append(f"{w}: {k} {a[k]} != {b[k]}")
        print(f"{w}: " + ", ".join(f"{k} {a[k]:g}/{b[k]:g}" for k in REPEATING)
              + (f"; queries whose counts differ: {' '.join(unsteady)}"
                 if unsteady else ""))
    for e in errors:
        print("FAIL", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
