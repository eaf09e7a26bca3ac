"""One timed cycle of a workload through the engine's public entry points.

A cycle is one closed-loop pass of a single client, as the reference's
EMR step runs it: every landing day through ``runner.run_day``, then the
weekly ``runner.run_update`` and ``runner.export_to_hive`` (calc_week, all
via ``runner.run_range`` with ``force_collection_update``), or each day's
``run_day`` followed by ``publish.publish_audit_day`` (audit_week).

Each cycle writes into its own directory, state log and catalog names, so
its outputs can be checked after the timed region.  Every phase call is
timed by ``Recorder``, in wall time and in CPU time of the whole process
tree (``tree_cpu_s``); per-cycle preparation (copying the seeded state
log and last week's dailies) happens before the cycle's clock starts.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

from dataworks_aws_corporate_data_ingestion_spark.plans import publish, runner
from dataworks_aws_corporate_data_ingestion_spark.plans.publish import TableSpec

import gen

CALC_TABLES = (
    ("parts", "_id STRUCT<id: STRING>, amount BIGINT, currency STRING"),
    ("claims", "_id STRUCT<id: STRING>, parts ARRAY<STRUCT<kind: STRING, value: BIGINT>>"),
)
AUDIT_TABLE = "auditlog_raw"


class CountingKeyService:
    """Identity key service (the encrypted data key IS the key, as in the
    engine's local mode) that counts every resolution in a Spark
    accumulator.  CachingKeyClient sits in front of it, so the count is
    the number of key-service calls after the per-worker cache.  The
    cache namespace is per cycle: each cycle starts with cold caches, as
    a fresh weekly job would."""

    def __init__(self, accumulator, namespace: str):
        self.accumulator = accumulator
        self.cache_namespace = f"perfbench-{namespace}"

    def decrypt_data_key(self, encrypted_key: str, key_encryption_key_id: str) -> str:
        self.accumulator.add(1)
        return encrypted_key


@dataclass
class Call:
    """One phase call: phase in {ingest, update, publish}; `key` names
    the call within its cycle (a date, or 'update'/'publish')."""

    phase: str
    key: str
    start: float  # epoch seconds
    wall: float  # seconds
    result: object = None
    error: str | None = None
    cpu: float = 0.0  # CPU seconds of this process and every process under it

    @property
    def end(self) -> float:
        return self.start + self.wall


@dataclass
class Cycle:
    tag: str
    case: str
    root: str
    wall: float = 0.0
    cpu: float = 0.0  # CPU seconds of the whole process tree over the cycle
    steal: float = 0.0  # share of the host's CPU time other guests took meanwhile
    calls: list[Call] = field(default_factory=list)
    error: str | None = None
    key_calls: int = 0

    @property
    def daily_root(self) -> str:
        return os.path.join(self.root, "daily")


class Recorder:
    """Times every phase call of the current cycle, in wall and CPU
    seconds.  With a tracer, each call also opens a root span
    `phase.<phase>` and, under it, a span for the entry point itself."""

    def __init__(self, tracer=None):
        self.calls: list[Call] = []
        self.tracer = tracer

    def timed(self, phase: str, key: str, fn, *args, **kwargs):
        if self.tracer is None:
            return self._timed(phase, key, fn, *args, **kwargs)
        with self.tracer.span(f"phase.{phase}", "phase", key):
            with self.tracer.span_for(fn):
                return self._timed(phase, key, fn, *args, **kwargs)

    def _timed(self, phase: str, key: str, fn, *args, **kwargs):
        cpu0 = tree_cpu_s()
        start, t0 = time.time(), time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:
            self.calls.append(Call(phase, key, start, time.perf_counter() - t0, error=repr(exc)))
            raise
        wall = time.perf_counter() - t0
        self.calls.append(Call(phase, key, start, wall, result=out, cpu=tree_cpu_s() - cpu0))
        return out


_TICK = os.sysconf("SC_CLK_TCK")


def host_cpu_times() -> list[int]:
    with open("/proc/stat") as fd:
        return [int(x) for x in fd.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor gave to other guests in the
    interval (the 8th /proc/stat field): the host load a VM cannot see in its
    own load average."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta[:8]), 1)


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks: utime + stime + cutime + cstime)
    of every process in /proc."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fd:
                fields = fd.read().rsplit(")", 1)[1].split()
            stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
        except (OSError, IndexError, ValueError):  # the process exited meanwhile
            continue
    return stats


def descendants(stats: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """Every process started under this one, directly or not."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in (stats or _proc_stats()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it -- the Spark JVM and its Python workers -- counting
    children that have exited and been reaped by their parents."""
    stats = _proc_stats()
    pids = [os.getpid()] + descendants(stats)
    return sum(stats[p][1] for p in pids if p in stats) / _TICK


@contextlib.contextmanager
def patched(target, name: str, replacement):
    """Temporarily replace `target.name` (module or class attribute)."""
    original = getattr(target, name)
    setattr(target, name, replacement)
    try:
        yield original
    finally:
        setattr(target, name, original)


def _phase_wrapper(rec: Recorder, phase: str, fn, key_of):
    def wrapper(*args, **kwargs):
        return rec.timed(phase, key_of(args), fn, *args, **kwargs)

    return wrapper


def _prepare(case: str, root: str) -> str:
    """Fresh cycle directory holding last week's (already merged) dailies
    and the seeded state log; returns the state-log path."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    merged = os.path.join(case, "merged")
    if os.path.isdir(merged):
        shutil.copytree(merged, os.path.join(root, "daily"))
    state = os.path.join(root, "state.jsonl")
    src = os.path.join(case, "state.jsonl")
    if os.path.exists(src):
        with open(src) as fd:
            text = fd.read()
        with open(state, "w") as fd:
            fd.write(text.replace("{CASE}", case))
    return state


def run_cycle(spark, case: str, work: str, tag: str, tracer=None) -> Cycle:
    """Run one cycle over the generated `case` (its collection picks the
    flow); never raises for an engine failure (it is recorded on the
    Cycle)."""
    expected = gen.load_expected(case)
    days = [d["date"] for d in expected["days"]]
    cyc = Cycle(tag=tag, case=case, root=os.path.join(work, tag))
    state = _prepare(case, cyc.root)
    acc = spark.sparkContext.accumulator(0)
    rec = Recorder(tracer)
    spec = runner.CollectionSpec(
        name=expected["collection"],
        source_root=os.path.join(case, "landing"),
        output_root=cyc.daily_root,
        exports_root=os.path.join(cyc.root, "exports"),
        audit=expected["collection"] == gen.AUDIT,
        sink="jsonl" if expected["collection"] == gen.AUDIT else "keyed",
        hive_tables=tuple(TableSpec(f"pb_{tag}_{n}", ddl) for n, ddl in CALC_TABLES),
    )
    cfg = runner.EngineConfig(
        correlation_id=f"perfbench-{tag}",
        start_date=days[0],
        end_date=days[-1],
        collection=spec,
        state_path=state,
        key_service=CountingKeyService(acc, tag),
        force_collection_update=True,
        permissive=spec.audit,
    )
    host0, cpu0, t0 = host_cpu_times(), tree_cpu_s(), time.perf_counter()
    try:
        if spec.audit:
            _audit_week(spark, cfg, days, rec, tag)
        else:
            _calc_week(spark, cfg, rec)
    except Exception as exc:  # recorded: the checker counts it as failed
        cyc.error = repr(exc)
    cyc.wall = time.perf_counter() - t0
    cyc.cpu = tree_cpu_s() - cpu0
    cyc.steal = steal_share(host0, host_cpu_times())
    cyc.calls = rec.calls
    cyc.key_calls = int(acc.value)
    return cyc


def _calc_week(spark, cfg, rec: Recorder) -> None:
    """run_range: run_day per date, then run_update + export_to_hive."""
    wrap = _phase_wrapper
    with patched(runner, "run_day", wrap(rec, "ingest", runner.run_day, lambda a: a[2])), \
            patched(runner, "run_update", wrap(rec, "update", runner.run_update, lambda a: "update")), \
            patched(runner, "export_to_hive", wrap(rec, "publish", runner.export_to_hive, lambda a: "publish")):
        runner.run_range(spark, cfg)


def _audit_week(spark, cfg, days: list[str], rec: Recorder, tag: str) -> None:
    """Each day: run_day (jsonl sink, permissive), then publish_audit_day."""
    for date in days:
        rec.timed("ingest", date, runner.run_day, spark, cfg, date)
        rec.timed(
            "publish",
            date,
            publish.publish_audit_day,
            spark,
            os.path.join(cfg.collection.output_root, date),
            date,
            database=f"pb_{tag}",
            table=AUDIT_TABLE,
        )
