"""Per-layer attribution for traced passes, measured from outside the package.

Three sources, all read by the benchmark rather than by the code under test:

- spans recorded around calls into each layer's public functions (query
  construction, materialization, ``Registry.sql`` / ``Registry.register_sql``);
- the driver's own Spark REST API: SQL node metrics (Python runner and
  physical operators), jobs and stages (JVM work), the driver executor's
  peak heap;
- Spark job groups, set per query and phase, that bill each job -- also
  the eager ones run while a query is being constructed -- to its query.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

#: Python-runner node kinds reported one by one
PY_KINDS = (
    "ArrowEvalPython",
    "ArrowEvalPythonUDTF",
    "MapInArrow",
    "MapInPandas",
    "AggregateInPandas",
    "FlatMapGroupsInPandas",
)
#: node names of this Spark version -> the kind they are reported under
PY_ALIASES = {"ArrowAggregatePython": "AggregateInPandas"}
#: SQL metric name -> per-layer field
PY_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
    "number of output rows": "rows_out",
}
#: physical node kinds whose output rows are reported
ROW_KINDS = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "HashAggregate",
    "Window",
    "Sort",
    "Generate",
)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1 / 1048576, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Number in a SQL metric string: seconds for times, MiB for sizes,
    plain for counts.  Task-level metrics read ``total (min, med, max
    ...)\\n<total> (<min>, ...)``; the total is what is returned."""
    line = text.split("\n", 1)[1] if text.startswith("total (") else text
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown unit in SQL metric value {text!r}")
    return num * _UNITS[unit]


def _epoch(stamp: str) -> float:
    return (
        datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Spans:
    """In-memory spans; written out once, when the run ends."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        sid = len(self.items)
        parent = self._stack[-1] if self._stack else None
        self.items.append(
            {"id": sid, "parent": parent, "name": name, "start": time.time(), **attrs}
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        assert self._stack and self._stack[-1] == sid, "spans closed out of order"
        self._stack.pop()
        span = self.items[sid]
        span["end"] = time.time()
        return span["end"] - span["start"]

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self.open(name, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)


class RegistryProbe:
    """Counts and times ``Registry.sql`` / ``Registry.register_sql`` calls
    while ``active``; outermost calls only, so a nested call is not billed
    twice to the same method."""

    METHODS = ("sql", "register_sql")

    def __init__(self, registry_cls, spans: Spans):
        self.active = False
        self.calls = defaultdict(int)
        self.secs = defaultdict(float)
        self._spans = spans
        self._depth = defaultdict(int)
        self._originals = {}
        for name in self.METHODS:
            orig = getattr(registry_cls, name)
            self._originals[name] = orig
            setattr(registry_cls, name, self._wrap(name, orig))
        self._cls = registry_cls

    def _wrap(self, name, orig):
        probe = self

        def timed(*args, **kwargs):
            if not probe.active or probe._depth[name]:
                return orig(*args, **kwargs)
            probe._depth[name] += 1
            sid = probe._spans.open(f"registry.{name}")
            try:
                return orig(*args, **kwargs)
            finally:
                probe.secs[name] += probe._spans.close(sid)
                probe.calls[name] += 1
                probe._depth[name] -= 1

        timed.__wrapped__ = orig
        return timed

    def uninstall(self) -> None:
        for name, orig in self._originals.items():
            setattr(self._cls, name, orig)


class Rest:
    """Reader for the driver's ``/api/v1`` endpoints."""

    def __init__(self, sc):
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; traced runs need its REST API")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def executions_from(self, first: int, timeout: float = 30.0) -> list[dict]:
        """SQL executions with id >= ``first``, once every one of them has
        finished.  Node metrics are filled in by an asynchronous listener,
        so reading before COMPLETED can return empty metric lists."""
        deadline = time.monotonic() + timeout
        while True:
            execs = [
                e
                for e in self.get(
                    f"/sql?details=true&planDescription=false&offset={first}&length=100000"
                )
                if e["id"] >= first
            ]
            if all(e["status"] in ("COMPLETED", "FAILED") for e in execs):
                return execs
            if time.monotonic() > deadline:
                raise TimeoutError("SQL executions still running after the pass")
            time.sleep(0.1)

    def executions_count(self) -> int:
        execs = self.get("/sql?details=false&planDescription=false&length=100000")
        return max((e["id"] for e in execs), default=-1) + 1


def pass_layers(rest: Rest, group_prefix: str, first_exec: int) -> dict[str, dict]:
    """Per-layer figures of one traced pass, per query: every job whose
    group is ``<group_prefix><query>:<phase>`` and every SQL execution from
    ``first_exec`` on, billed to the query of its jobs.  An execution that
    ran no job (a command) has no node metrics worth billing and is left
    out."""
    jobs = [
        j for j in rest.get("/jobs")
        if (j.get("jobGroup") or "").startswith(group_prefix)
    ]
    deadline = time.monotonic() + 30
    while any(j["status"] == "RUNNING" for j in jobs):
        if time.monotonic() > deadline:
            raise TimeoutError("Spark jobs still running after the pass")
        time.sleep(0.1)
        jobs = [
            j for j in rest.get("/jobs")
            if (j.get("jobGroup") or "").startswith(group_prefix)
        ]
    query_of_job = {
        j["jobId"]: j["jobGroup"][len(group_prefix):].rsplit(":", 1)[0] for j in jobs
    }
    query_of_stage = {s: query_of_job[j["jobId"]] for j in jobs for s in j["stageIds"]}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for j in jobs:
        q = out[query_of_job[j["jobId"]]]
        q["jvm.jobs"] += 1
        q["queries.construct_jobs"] += j["jobGroup"].endswith(":construct")
    for s in rest.get("/stages"):
        if s["stageId"] not in query_of_stage or s["status"] == "SKIPPED":
            continue
        q = out[query_of_stage[s["stageId"]]]
        q["jvm.stages"] += 1
        q["jvm.tasks"] += s["numCompleteTasks"]
        q["jvm.failed_tasks"] += s["numFailedTasks"]
        q["jvm.executor_run_s"] += s["executorRunTime"] / 1e3
        q["jvm.executor_cpu_s"] += s["executorCpuTime"] / 1e9
        q["jvm.gc_s"] += s["jvmGcTime"] / 1e3
        q["jvm.input_mb"] += s["inputBytes"] / 1048576
        q["jvm.shuffle_read_mb"] += s["shuffleReadBytes"] / 1048576
        q["jvm.shuffle_write_mb"] += s["shuffleWriteBytes"] / 1048576
        q["jvm.spill_mb"] += s["diskBytesSpilled"] / 1048576

    for ex in rest.executions_from(first_exec):
        ex_jobs = [
            j for k in ("successJobIds", "failedJobIds", "runningJobIds")
            for j in ex.get(k, []) if j in query_of_job
        ]
        if not ex_jobs:
            continue
        q = out[query_of_job[ex_jobs[0]]]
        for node in ex["nodes"]:
            kind = PY_ALIASES.get(node["nodeName"], node["nodeName"])
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "time to run Python workers" in metrics:
                for sql_name, field in PY_METRICS.items():
                    if sql_name not in metrics:
                        continue
                    v = parse_metric(metrics[sql_name])
                    if kind in PY_KINDS:
                        q[f"python.{kind}.{field}"] += v
                    if field != "rows_out":
                        q[f"python.{field}"] += v
            elif kind in ROW_KINDS:
                rows = metrics.get("number of output rows", metrics.get("records read"))
                if rows is not None:
                    q[f"nodes.{kind}.rows_out"] += parse_metric(rows)
    return {name: dict(q) for name, q in out.items()}


def job_spans(rest: Rest, spans: Spans, parent_of_group: dict[str, int]) -> None:
    """Add every Spark job of the traced passes as a child span of the
    phase (construct / materialize) whose job group it carries."""
    for j in rest.get("/jobs"):
        parent = parent_of_group.get(j.get("jobGroup") or "")
        if parent is None or "completionTime" not in j:
            continue
        spans.items.append(
            {
                "id": len(spans.items),
                "parent": parent,
                "name": "spark.job",
                "job_id": j["jobId"],
                "status": j["status"],
                "start": _epoch(j["submissionTime"]),
                "end": _epoch(j["completionTime"]),
            }
        )
