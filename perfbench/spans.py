"""Tracing for the benchmark's traced run: spans around calls into each
layer, Spark's own job/stage/SQL metrics per phase, and the arithmetic
that turns them into per-layer numbers.

Spans are recorded from the benchmark's files only: ``Tracer.installed``
wraps the module attributes ``plans.runner`` calls through
(``ingest_daily``, ``write_daily``, ``write_jsonl``, ``merge_snapshot``,
``write_snapshot``, ``read_dailies_since``, ``publish_snapshot_tables``)
and the ``LocalStateStore`` methods, plus pyspark's ``DataFrameReader.load``,
whose eager file listing ``run_update`` runs inline for the previous
snapshot; phase roots come from ``cycles.Recorder``.  A span is (name, layer, start, end, parent); spans
stay in memory until the run writes them out.

Spark numbers are read from outside the program through the UI's REST
API (``/jobs``, ``/stages``, ``/sql?details=true``) after the cycle, and
each job is assigned to the phase call whose wall-clock window holds its
submission time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import re
import time
import urllib.request
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrameReader

from dataworks_aws_corporate_data_ingestion_spark.plans import runner, state

from cycles import patched

WRAPPED_RUNNER_ATTRS = (
    "ingest_daily",
    "write_daily",
    "write_jsonl",
    "merge_snapshot",
    "write_snapshot",
    "read_dailies_since",
    "publish_snapshot_tables",
)
WRAPPED_STATE_METHODS = ("put", "latest_completed_export")
WRAPPED_READER_METHODS = ("load",)
# entry points whose own code is orchestration: their self time is the
# part of a phase no layer below explains
RUNNER_ENTRIES = ("runner.run_day", "runner.run_update", "runner.export_to_hive")
PHASES = ("ingest", "update", "publish")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    key: str = ""


def layer_of(fn) -> str:
    """'...plans.runner' -> 'plans.runner' (the repo's module names);
    every pyspark function is the one layer 'pyspark'."""
    if fn.__module__.startswith("pyspark."):
        return "pyspark"
    return ".".join(fn.__module__.split(".")[-2:])


def span_name(fn) -> str:
    return f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        # last (args, return value) per span name, for post-run counts
        self.calls: dict[str, tuple[tuple, object]] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, key: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, layer, time.time(), key=key)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def span_for(self, fn):
        return self.span(span_name(fn), layer_of(fn))

    def wrap(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span_for(fn):
                out = fn(*args, **kwargs)
            self.calls[span_name(fn)] = (args, out)
            return out

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Wrap the layer functions plans.runner calls for the duration."""
        targets = [(runner, n) for n in WRAPPED_RUNNER_ATTRS]
        targets += [(state.LocalStateStore, n) for n in WRAPPED_STATE_METHODS]
        targets += [(DataFrameReader, n) for n in WRAPPED_READER_METHODS]
        with contextlib.ExitStack() as stack:
            for target, name in targets:
                stack.enter_context(patched(target, name, self.wrap(getattr(target, name))))
            yield self

    def add_job_spans(self, jobs: list[dict]) -> None:
        """Spark job intervals become children of the phase root that
        holds their submission time."""
        roots = [s for s in self.spans if s.layer == "phase"]
        for job in jobs:
            t0, t1 = job_interval(job)
            for root in roots:
                if root.start <= t0 <= root.end:
                    self.spans.append(
                        Span(len(self.spans), root.id, f"spark.job.{job['jobId']}", "spark", t0, t1)
                    )
                    break

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# ------------------------------------------------------------- self time --


def union_length(intervals) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its child layer spans
    (Spark job spans are not layers and are left out)."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None and s.layer != "spark":
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - union_length(children.get(s.id, ()))
        for s in spans
        if s.layer != "spark"
    }


def layer_self_ms(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if s.layer not in ("spark", "phase"):
            out[s.layer] = out.get(s.layer, 0.0) + st[s.id] * 1000
    return out


def phase_coverage(spans: list[Span]) -> dict[str, float]:
    """Per phase: share of its wall time spent inside a layer call below
    the runner's orchestration code (1 - self time of the phase root and
    of the runner entry point, over the phase's wall time)."""
    st = self_times(spans)
    wall: dict[str, float] = {}
    loose: dict[str, float] = {}
    root_of: dict[int, Span] = {}
    for s in spans:
        if s.layer == "phase":
            root_of[s.id] = s
            ph = s.name.split(".", 1)[1]
            wall[ph] = wall.get(ph, 0.0) + (s.end - s.start)
            loose[ph] = loose.get(ph, 0.0) + st[s.id]
        elif s.name in RUNNER_ENTRIES and s.parent in root_of:
            ph = root_of[s.parent].name.split(".", 1)[1]
            loose[ph] = loose.get(ph, 0.0) + st[s.id]
    return {ph: 1.0 - loose[ph] / wall[ph] for ph in wall if wall[ph] > 0}


# ------------------------------------------------------------ Spark REST --


def parse_spark_time(text: str) -> float:
    """'2026-10-16T23:12:23.451GMT' -> epoch seconds."""
    t = dt.datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def job_interval(job: dict) -> tuple[float, float]:
    t0 = parse_spark_time(job["submissionTime"])
    t1 = parse_spark_time(job["completionTime"]) if job.get("completionTime") else t0
    return t0, t1


_UNIT_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric -> number (ms for timings, bytes for sizes).

    Spark renders either a bare value ('400', '4.3 s') or, for metrics
    with several tasks, 'total (min, med, max (...))\\n<total> (...)';
    the total is what is wanted."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _UNIT_MS:
        return number * _UNIT_MS[unit]
    return number * _UNIT_B.get(unit, 1)


class SparkRest:
    """Minimal client for the Spark UI's REST API on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = (sc.uiWebUrl or "").rsplit(":", 1)[-1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as resp:
            return json.load(resp)

    def settled(self, timeout: float = 30.0) -> dict:
        """jobs/stages/sql once the listener bus has caught up (no job
        running and two identical job lists in a row)."""
        deadline, last = time.time() + timeout, None
        while True:
            jobs = self.get("jobs")
            sig = [(j["jobId"], j["status"]) for j in jobs]
            if sig == last and all(j["status"] != "RUNNING" for j in jobs):
                break
            if time.time() > deadline:
                break
            last = sig
            time.sleep(0.5)
        return dict(
            jobs=jobs,
            stages=self.get("stages"),
            sql=self.get("sql?details=true&planDescription=false&offset=0&length=100000"),
        )


PHASE_METRICS = (
    ("jobs", "count"),
    ("sampler_jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("wall_ms", "ms"),
    ("driver_idle_ms", "ms"),
    ("task_run_ms", "ms"),
    ("task_cpu_ms", "ms"),
    ("gc_ms", "ms"),
    ("python_total_ms", "ms"),
    ("python_boot_ms", "ms"),
    ("python_sent_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("fetch_wait_ms", "ms"),
    ("spill_mb", "MB"),
    ("input_mb", "MB"),
    ("output_mb", "MB"),
    ("coverage", "ratio"),
)
_SQL_PYTHON = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_sent_mb",
}
MB = 1e6


def phase_metrics(calls, rest: dict) -> dict[str, dict[str, float]]:
    """Per phase (ingest/update/publish): Spark work of every job whose
    submission falls inside one of that phase's calls, summed over the
    calls.  `calls` are cycles.Call records; a phase with no calls or no
    jobs reports zeros."""
    out = {ph: {name: 0.0 for name, _ in PHASE_METRICS if name != "coverage"} for ph in PHASES}
    stages: dict[int, list[dict]] = {}
    for st in rest["stages"]:
        stages.setdefault(st["stageId"], []).append(st)
    job_phase: dict[int, str] = {}
    for call in calls:
        m = out[call.phase]
        m["wall_ms"] += call.wall * 1000
        mine = []
        for job in rest["jobs"]:
            t0, t1 = job_interval(job)
            if call.start <= t0 <= call.end:
                mine.append((t0, t1))
                job_phase[job["jobId"]] = call.phase
                m["jobs"] += 1
                for sid in job["stageIds"]:
                    for st in stages.get(sid, ()):
                        if st["status"] != "COMPLETE":
                            continue  # skipped: its output was reused
                        m["stages"] += 1
                        m["tasks"] += st["numCompleteTasks"]
                        m["task_run_ms"] += st["executorRunTime"]
                        m["task_cpu_ms"] += st["executorCpuTime"] / 1e6
                        m["gc_ms"] += st["jvmGcTime"]
                        m["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                        m["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                        m["fetch_wait_ms"] += st["shuffleFetchWaitTime"]
                        m["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
                        m["input_mb"] += st["inputBytes"] / MB
                        m["output_mb"] += st["outputBytes"] / MB
        m["driver_idle_ms"] += max(0.0, call.wall - union_length(mine)) * 1000
    jobs_by_id = {j["jobId"]: j for j in rest["jobs"]}
    for ex in rest["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        phase = next((job_phase[i] for i in ids if i in job_phase), None)
        if phase is None:
            continue
        m = out[phase]
        for node in ex.get("nodes", []):
            for metric in node.get("metrics", []):
                key = _SQL_PYTHON.get(metric["name"])
                if key is not None:
                    v = parse_sql_metric(metric["value"])
                    m[key] += v / MB if key.endswith("_mb") else v
        m["sampler_jobs"] += len(sampler_jobs(ids, jobs_by_id, stages))
    return out


def sampler_jobs(job_ids, jobs_by_id: dict, stages: dict) -> list[int]:
    """Jobs of one SQL execution that run before its first shuffle-writing
    job and write neither shuffle output nor files: the range
    partitioner's boundary-sampling collects (a text write has none)."""
    ordered = sorted(i for i in job_ids if i in jobs_by_id)

    def totals(job_id):
        sw = out_b = 0
        for sid in jobs_by_id[job_id]["stageIds"]:
            for st in stages.get(sid, ()):
                if st["status"] == "COMPLETE":
                    sw += st["shuffleWriteBytes"]
                    out_b += st["outputBytes"]
        return sw, out_b

    found = []
    for job_id in ordered:
        sw, out_b = totals(job_id)
        if sw > 0:
            return found
        if out_b == 0:
            found.append(job_id)
    return []  # no shuffle follows: nothing was a boundary sample
