"""Read per-job, per-stage and per-SQL-node metrics from Spark's
status REST API (``<uiWebUrl>/api/v1/applications/<appId>/...``).

The UI keeps a bounded number of jobs, stages and SQL executions, so the
traced run pulls after every query and attributes what it finds to that
query through the job ids its job group launched.
"""
from __future__ import annotations

import json
import re
import time
import urllib.request

# Loopback only: never route the status API through a proxy from the
# environment.
_OPENER = urllib.request.build_opener(urllib.request.ProxyHandler({}))

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "min": 60.0, "h": 3600.0}
_VALUE = re.compile(
    r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|min|m|h)?\b")


def metric_value(text: str) -> float:
    """A SQL metric's total as a number: rows, bytes or seconds.

    Sized and timed metrics render as ``"total (min, med, max ...)\\n
    12.3 MiB (...)"``; plain sums as ``"1,234"``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusApi:
    """Incremental reader of one application's status endpoints."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def _get(self, path: str):
        with _OPENER.open(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self, job_ids, timeout: float = 10.0) -> None:
        """Wait until the listener has recorded the end of every given job
        and of every SQL execution, so the pulls below see final metrics."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos):
                rows = self._get(f"/sql?details=false&offset={self._sql_seen}"
                                 f"&length=100000")
                if all(r.get("status") != "RUNNING" for r in rows):
                    return
            time.sleep(0.02)

    def jobs(self, job_ids) -> list[dict]:
        ids = set(job_ids)
        return [j for j in self._get("/jobs") if j["jobId"] in ids]

    def stages(self, stage_ids) -> list[dict]:
        """Every attempt of the given stages, each with its task run-time
        median and maximum as ``runTimeQuantiles``."""
        ids = set(stage_ids)
        out = [s for s in self._get("/stages") if s["stageId"] in ids]
        for s in out:
            if s.get("numCompleteTasks", 0):
                dist = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                                 f"/taskSummary?quantiles=0.5,1.0")
                s["runTimeQuantiles"] = dist["executorRunTime"]
        return out

    def new_sql(self) -> list[dict]:
        """SQL executions that finished since the previous call."""
        rows = self._get(f"/sql?details=true&planDescription=false"
                         f"&offset={self._sql_seen}&length=100000")
        done = []
        for r in rows:
            if r.get("status") == "RUNNING":
                break
            done.append(r)
        self._sql_seen += len(done)
        return done
