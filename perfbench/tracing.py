"""Spans around the benchmark's calls, and the Spark metrics behind them.

Only the traced run (``--trace 1``) uses this module. It changes nothing in
the program: spans are opened by the benchmark around the calls it makes,
and around public functions it re-binds where their callers look them up
(``Tracer.wrap``). While a span is open, the driver thread's Spark job group is
the span's id, so every job belongs to the innermost span open when it was
submitted. Job, stage and SQL metrics are read from the Spark UI's REST API
after each pass; py4j commands are counted by wrapping the gateway client.
Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
import urllib.request
from datetime import datetime, timezone

GROUP_PREFIX = "perfbench-span-"
ACTIONS = ("sources.io.write_table", "DataFrame.localCheckpoint", "DataFrame.collect")
PYTHON_NODE = "MapInPandas"
WRAPPERS = ("lineage.run",)  # spans the benchmark opens around a whole job call


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.api_root = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list = []
        self.py4j_calls = 0
        self._counting = True
        self._count_py4j()

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(span)
        self._set_group(span["id"])
        self._stack.append(span)
        py4j0 = self.py4j_calls
        try:
            yield span
        finally:
            span["end"] = time.time()
            span["py4j_calls"] = self.py4j_calls - py4j0
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Re-bind ``owner.attr`` so each call runs inside a span ``name``.

        ``on_call(args, kwargs)``, when given, sees the arguments first.
        """
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(args, kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _set_group(self, span_id) -> None:
        self._counting = False
        try:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if span_id is None else f"{GROUP_PREFIX}{span_id}"
            )
        finally:
            self._counting = True

    def _count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if tracer._counting:
                tracer.py4j_calls += 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command
        self._restore.append((GatewayClient, "send_command", orig))

    def subtree(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    # -- REST ----------------------------------------------------------
    def api(self, path: str):
        self._counting = False
        try:
            with urllib.request.urlopen(self.api_root + path, timeout=30) as r:
                return json.load(r)
        finally:
            self._counting = True

    def settled_jobs(self, timeout_s: float = 20.0) -> list[dict]:
        """All jobs, once the status store shows none running."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self.api("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.1)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")
_STAGE_REF = re.compile(r"\(stage (\d+)\.(\d+):")


def sql_metric_value(text: str) -> float:
    """Total of a formatted SQL metric (``"1.5 MiB"``, ``"total (...)\\n9.8 s (...)"``)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.search(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it covered by direct child spans."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - union_length(kids)


class PassMetrics:
    """Spark-side view of one traced pass: its jobs, stages and SQL nodes."""

    def __init__(self, tracer: Tracer, root: dict):
        self.tracer = tracer
        self.root = root
        self.spans = tracer.subtree(root)
        groups = {f"{GROUP_PREFIX}{s['id']}": s for s in self.spans}
        jobs = [j for j in tracer.settled_jobs() if j.get("jobGroup") in groups]
        for j in jobs:
            j["span"] = groups[j["jobGroup"]]["id"]
            groups[j["jobGroup"]].setdefault("jobs", []).append(j["jobId"])
            j["t0"] = _epoch(j.get("submissionTime"))
        self.jobs = jobs
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        self.stages = [
            s for s in tracer.api("/stages") if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        job_ids = {j["jobId"] for j in jobs}
        self.sql = [
            e
            for e in tracer.api("/sql?details=true&planDescription=false&length=100000")
            if job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", []))
        ]

    @property
    def wall(self) -> float:
        return self.root["end"] - self.root["start"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def jobs_in(self, span: dict) -> list[dict]:
        ids = {s["id"] for s in self.tracer.subtree(span)}
        return [j for j in self.jobs if j["span"] in ids]

    def stages_in(self, span: dict) -> list[dict]:
        ids = {sid for j in self.jobs_in(span) for sid in j["stageIds"]}
        return [s for s in self.stages if s["stageId"] in ids]

    def task_skew(self, stages: list[dict]) -> float:
        """Max over median task run time of the busiest stage."""
        busy = [s for s in stages if s["numCompleteTasks"] > 1]
        return self.stage_skew(max(busy, key=lambda s: s["executorRunTime"])) if busy else 0.0

    def stage_skew(self, s: dict) -> float:
        """Max over median task run time of one stage."""
        q = self.tracer.api(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med else 0.0

    def python_nodes(self) -> list[dict]:
        return [n for e in self.sql for n in e["nodes"] if n["nodeName"] == PYTHON_NODE]

    def python_stage_ids(self) -> set[int]:
        ids = set()
        for n in self.python_nodes():
            for m in n["metrics"]:
                ids.update(int(x) for x, _ in _STAGE_REF.findall(m["value"]))
        return ids

    def python_metric(self, name: str) -> float:
        return sum(
            sql_metric_value(m["value"])
            for n in self.python_nodes()
            for m in n["metrics"]
            if m["name"] == name
        )

    def driver_metrics(self) -> dict:
        """py4j commands, and the driver's build and plan time.

        ``plan_s``: for each outermost action span (a write, collect or
        localCheckpoint), the time from the span's start to its first job.
        ``build_s``: pass time outside every action span.
        """
        acts, covered = [], []
        for s in self.spans:
            if s["name"] not in ACTIONS:
                continue
            parent = s["parent"]
            nested = False
            while parent is not None and parent != self.root["id"]:
                if self.tracer.spans[parent]["name"] in ACTIONS:
                    nested = True
                    break
                parent = self.tracer.spans[parent]["parent"]
            if not nested:
                acts.append(s)
                covered.append((s["start"], s["end"]))
        plan = 0.0
        for s in acts:
            starts = [j["t0"] for j in self.jobs_in(s) if j["t0"] is not None]
            if starts:
                plan += max(0.0, min(starts) - s["start"])
        return {
            "driver.py4j_calls": self.root["py4j_calls"],
            "driver.build_s": self.wall - union_length(covered),
            "driver.plan_s": plan,
        }

    def engine_metrics(self) -> dict:
        st = self.stages
        return {
            "spark.jobs": len(self.jobs),
            "spark.stages": len(st),
            "spark.tasks": sum(s["numCompleteTasks"] for s in st),
            "exec.run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "exec.cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "exec.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
            "storage.residual_bytes": sum(
                r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.tracer.api("/storage/rdd")
            ),
        }

    def pipeline_metrics(self) -> dict:
        py_stages = self.python_stage_ids()
        return {
            "pipeline.udf_s": sum(
                s["executorRunTime"] for s in self.stages if s["stageId"] in py_stages
            ) / 1e3,
            "pipeline.bytes_to_python": self.python_metric("data sent to Python workers"),
            "pipeline.bytes_from_python": self.python_metric("data returned from Python workers"),
        }

    def blocking_cover(self) -> float:
        """Share of the pass wall time covered by its layer spans.

        The layer spans are the pass's child spans, except that a span
        that only wraps a whole job call (``WRAPPERS``) is replaced by its
        own children, so the time the job spends outside its layers counts
        as uncovered.
        """
        layers, todo = [], [s for s in self.spans if s["parent"] == self.root["id"]]
        while todo:
            s = todo.pop()
            if s["name"] in WRAPPERS:
                todo += [c for c in self.spans if c["parent"] == s["id"]]
            else:
                layers.append((s["start"], s["end"]))
        return union_length(layers) / self.wall if self.wall else 0.0


def span_tree(tracer: Tracer) -> list[dict]:
    """Spans as written out: times relative to the first span, with self time."""
    t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
    return [
        {
            "id": s["id"],
            "name": s["name"],
            "parent": s["parent"],
            "start_s": round(s["start"] - t0, 4),
            "dur_s": round(s["end"] - s["start"], 4),
            "self_s": round(self_time(s, tracer.spans), 4),
            "py4j_calls": s.get("py4j_calls", 0),
            "jobs": s.get("jobs", []),
        }
        for s in tracer.spans
    ]
