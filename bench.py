#!/usr/bin/env python3
"""Headline benchmark: time every bench entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print a
details line, then ONE headline JSON line with per-entry seconds.

Output schema: the driver-facing fields are unchanged ("queries" maps
name -> best seconds); a "details" map adds, per query:
  best      best-of-N seconds (same number as "queries"): wall clock,
            or the engine seconds of an entry that times itself
  median    median-of-N of the same seconds
  cpu_s     median-of-N CPU seconds of the whole process tree (this
            driver, the Spark JVM and its Python workers; perfbench's
            cycles.tree_cpu_s).  On a VM, wall time follows hypervisor
            steal while the tree's CPU follows the work the code does, so
            a wall move with cpu_s held reads as the host, not the code
            (tools/bench_diff.py classifies it so)
  plan_sha  sha256 (16 hex chars) of the normalised initial physical plan,
            so round-over-round diffs can tell "the plan changed" apart
            from "the host was loaded" (expression ids / codegen ids /
            temp paths are normalised out; AQE's runtime re-plan is
            intentionally NOT captured -- the pre-execution plan is the
            stable fingerprint of what the code asked for)
  jit_ms    milliseconds the JVM's JIT compilers spent over the timed
            repeats (CompilationMXBean), so CPU a compiler thread spends
            on code an earlier entry warmed reads as JIT, not as this plan
  stages    executor-side stage metrics for the final repeat (REST status
            API): run/CPU ms, input + shuffle MB, task count.  Bytes and
            task counts are repeat-invariant, so a diff can split "python
            stage slower" from "shuffle grew" without plan spelunking

A top-level "host" object records the cpu count, the repeat count, the
share of host CPU time stolen by the hypervisor over the run and the
cache-sweep failure count.

The entries are workload.bench_entries(): the bench=True registry
queries, then the write paths.  Each entry's untimed `prepare` writes
what it reads (cdi_ingest_pipeline's encrypted fixture, the daily
dataset, the snapshot, the merge-on-read base, the stream landing
directory), so the headline times only the entry's `run`:
cdi_ingest_pipeline is the production pipeline over its materialised
fixture, the cost the engine charges the user.  An entry whose `run`
times itself (the streaming drain) reports those engine seconds as
best/median and its wall clock as gross_best/gross_median.
tools/bench_one.py, tools/pin_plan_shas.py and tools/scale_decade.py
time and fingerprint entries through the same `time_entry`.

Hygiene: every repeat ends by draining the tracked-cache registry
(operators persist multi-consumer intermediates they cannot unpersist
themselves -- see caching.py) and clearing the catalog cache, so repeat k
never pays eviction pressure from repeat k-1's blocks.  Round 2 skipped
this and accumulated dozens of leaked caches across 16 queries x 5
repeats, regressing the common set +24%.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

import shutil
import tempfile

from dataworks_aws_corporate_data_ingestion_spark.caching import release_tracked
from dataworks_aws_corporate_data_ingestion_spark.session import get_session
from dataworks_aws_corporate_data_ingestion_spark.workload import bench_entries

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
# the warm-up scale factor: big enough to run every plan, small enough to
# cost seconds
SF_WARM = "/root/testdata/sf0.001"
# perfbench's modules import each other flat, so its directory goes on the
# path the way perfbench/run.py puts it there
sys.path.insert(0, os.path.join(_REPO_ROOT, "perfbench"))
from cycles import host_cpu_times, steal_share, tree_cpu_s  # noqa: E402
from spans import SparkRest  # noqa: E402

# strip per-session noise from plan strings so the sha is stable across
# runs: the catalog warehouse location (<cwd>/spark-warehouse by default),
# expression ids (#123L), plan/codegen/subquery ids, object addresses,
# temp output dirs, and statistics annotations
_PLAN_NOISE = [
    (re.compile(r"file:[^,\[\]\n]*?/spark-warehouse/"), "file:<warehouse>/"),
    (re.compile(r"#\d+"), "#x"),
    # higher-order-function lambda variables carry a session-global
    # counter in their NAME (lambda x_1 / lambda y_10 vs x_15 / y_24),
    # not just the expr id
    (re.compile(r"(lambda [A-Za-z]+_)\d+"), r"\1N"),
    (re.compile(r"\b(plan_id|id)=\d+"), r"\1=x"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : x]"),
    (re.compile(r"@[0-9a-f]{6,}"), "@x"),
    (re.compile(r"/tmp/[^\s,\]]+"), "/tmp/x"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(x)"),
    (re.compile(r"subquery#x, \[id=x\]"), "subquery"),
]


def plan_sha(df) -> str | None:
    """16-hex-char fingerprint of the normalised initial physical plan.

    Truncation is disabled while rendering: FileScan metadata lines cut
    at a fixed WIDTH, and expression-id digit widths (#4 vs #103 --
    session-history-dependent) shift the cut point, so two identical
    plans could hash differently after #x normalisation depending on
    what ran earlier in the session (diagnosed round 4: 10 of 21 shas
    drifted between bench contexts).  With full metadata rendered, the
    normalised string -- and the sha -- is context-free."""
    try:
        conf = df.sparkSession.conf
        saved = {
            k: conf.get(k, None)
            for k in (
                "spark.sql.maxMetadataStringLength",
                "spark.sql.debug.maxToStringFields",
            )
        }
        conf.set("spark.sql.maxMetadataStringLength", "100000")
        conf.set("spark.sql.debug.maxToStringFields", "10000")
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
    except Exception:
        return None
    return plan_text_sha(plan)


def plan_text_sha(plan: str) -> str:
    """16-hex-char sha of a rendered plan after `_PLAN_NOISE` is stripped."""
    for pat, rep in _PLAN_NOISE:
        plan = pat.sub(rep, plan)
    return hashlib.sha256(plan.encode("utf-8")).hexdigest()[:16]


def _completed_stages(spark) -> list[dict] | None:
    """Completed-stage metrics from the local UI's REST status API --
    the public, listener-free way to ask 'where did the time go' -- or
    None when the UI is off or unreachable."""
    try:
        return SparkRest(spark).get("stages?status=complete")
    except (OSError, ValueError):
        return None


def _completed_stage_ids(spark) -> set[int]:
    stages = _completed_stages(spark)
    return {s["stageId"] for s in stages} if stages else set()


def _stage_metrics_since(spark, before_ids: set[int]) -> dict | None:
    """Sum executor-side metrics over stages completed since `before_ids`
    was snapshotted: splits a query's wall-clock into executor run/CPU
    time and IO/shuffle volume, so a bench diff can tell 'python stage
    got slower' from 'shuffle doubled' without re-deriving it from
    plans.  Bytes and task counts are repeat-invariant; times belong to
    the profiled repeat only."""
    stages = _completed_stages(spark)
    if stages is None:
        return None
    new = [s for s in stages if s["stageId"] not in before_ids]
    if not new:
        return None
    out = {
        "n_stages": len(new),
        "n_tasks": sum(s.get("numCompleteTasks", 0) for s in new),
        "executor_run_ms": sum(s.get("executorRunTime", 0) for s in new),
        "executor_cpu_ms": sum(s.get("executorCpuTime", 0) for s in new) // 1_000_000,
        "input_mb": round(sum(s.get("inputBytes", 0) for s in new) / 1e6, 1),
        "shuffle_read_mb": round(
            sum(s.get("shuffleReadBytes", 0) for s in new) / 1e6, 1
        ),
        "shuffle_write_mb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in new) / 1e6, 1
        ),
    }
    return out


# count (don't swallow) failures of the persistent-RDD sweep below: the
# sweep reaches through py4j private surface (spark.sparkContext._jsc), and
# if that surface ever changes the r9 checkpoint-block-leak fix silently
# stops working -- late entries would degrade 1.6-3x again with nothing in
# the committed artifact to say why.  The count is surfaced in the "host"
# block of both output lines; a one-time stderr warning fires on the first
# failure so an interactive run sees it immediately.
_SWEEP_FAILURES = {"count": 0, "first_error": None}


def _end_repeat(spark) -> None:
    """Free repeat-scoped state: tracked operator caches, catalog cache,
    AND every still-persistent RDD.

    The third step is the r9 addition: iterative trainers (bpe/wordpiece/
    unigram, merge chains) call localCheckpoint(eager=True) per round, and
    those blocks are NOT tracked -- they free only when the ContextCleaner
    notices the JVM-side RDD is unreachable, which on a 32 GB driver heap
    can be never (full GCs don't happen).  Measured this round: a
    repeats=5 full bench accumulated enough orphaned checkpoint blocks
    that late entries ran 1.6-3x slow with executor_run_ms ballooning
    while cpu_ms stayed flat (storage-eviction/spill churn), and the same
    entries returned to band standalone and at repeats=2.  Safe here:
    every repeat rebuilds its plans from scratch, so no live plan depends
    on a previous repeat's checkpoint blocks."""
    release_tracked()
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        import gc

        gc.collect()  # drop py4j proxies so the JVM side is unreachable
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
    except Exception as exc:  # noqa: BLE001
        _SWEEP_FAILURES["count"] += 1
        if _SWEEP_FAILURES["first_error"] is None:
            _SWEEP_FAILURES["first_error"] = repr(exc)[:200]
            print(
                f"WARNING: persistent-RDD sweep failed ({exc!r}); the "
                "checkpoint-block-leak mitigation is NOT running",
                file=sys.stderr,
            )


def _jit_ms(spark) -> int:
    """Total milliseconds the driver JVM's JIT compilers have run."""
    management = spark._jvm.java.lang.management.ManagementFactory
    return management.getCompilationMXBean().getTotalCompilationTime()


def _timed_record(spark, run_once, repeats: int) -> dict:
    """Best and median seconds, median process-tree CPU seconds and total
    JIT milliseconds over `repeats` runs; stage metrics are profiled on
    the last run.  When `run_once` returns seconds (an entry that times
    its own engine work), best/median come from those and the wall clock
    goes to gross_best/gross_median."""
    walls: list[float] = []
    engine: list[float] = []
    cpus: list[float] = []
    stage_metrics = None
    jit0 = _jit_ms(spark)
    for rep in range(repeats):
        before = _completed_stage_ids(spark) if rep == repeats - 1 else None
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        secs = run_once()
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - cpu0)
        if secs is not None:
            engine.append(secs)
        if before is not None:
            stage_metrics = _stage_metrics_since(spark, before)
        _end_repeat(spark)
    headline = engine or walls
    rec = {
        "best": round(min(headline), 3),
        "median": round(statistics.median(headline), 3),
        "cpu_s": round(statistics.median(cpus), 2),
        "jit_ms": _jit_ms(spark) - jit0,
        "stages": stage_metrics,
    }
    if engine:
        rec["gross_best"] = round(min(walls), 3)
        rec["gross_median"] = round(statistics.median(walls), 3)
    return rec


def warm_up(spark, entries, sf_dir: str, work_dir: str) -> None:
    """Run each entry once, untimed, at `sf_dir`: a plan's first
    execution pays JVM codegen and Python-worker spin-up, which would
    otherwise be charged to whichever entry hits it first."""
    for entry in entries:
        entry.prepare(spark, sf_dir, work_dir)
        entry.run(spark, sf_dir, work_dir)
    _end_repeat(spark)


def time_entry(spark, entry, sf_dir: str, work_dir: str, repeats: int) -> dict:
    """One bench entry: its untimed prepare, `repeats` timed runs (none
    for a fingerprint only) and the plan_sha of its plan."""
    entry.prepare(spark, sf_dir, work_dir)
    _end_repeat(spark)
    rec = (
        _timed_record(spark, lambda: entry.run(spark, sf_dir, work_dir), repeats)
        if repeats
        else {}
    )
    rec["plan_sha"] = plan_sha(entry.plan(spark, sf_dir, work_dir))
    _end_repeat(spark)
    return rec


def _details_out_path() -> str:
    """Committed-side sink for the full per-entry details map.  The
    driver's BENCH_r{N}.json keeps only the tail of stdout, which
    truncates the details line after ~one entry (r9 verdict nit); writing
    the same object to a file in the repo root survives the commit
    boundary.  Round number = 1 + the highest committed BENCH_r*.json."""
    out = os.environ.get("SPARK_GRAFT_BENCH_DETAILS_OUT")
    if out:
        return out
    import glob

    rounds = [0]
    for f in glob.glob(os.path.join(_REPO_ROOT, "BENCH_r*.json")):
        m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(f))
        if m:
            rounds.append(int(m.group(1)))
    return os.path.join(_REPO_ROOT, f"BENCH_DETAILS_r{max(rounds) + 1:02d}.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_session(app_name="cdi-engine-bench")
    spark.sparkContext.setLogLevel("ERROR")

    entries = bench_entries()
    timings: dict[str, float] = {}
    details: dict[str, dict] = {}

    # best-of-N: the harness shares a host, so single-shot timings carry
    # external load spikes; the minimum is the cleanest estimate of what
    # the plan itself costs.  The median wall and the median tree CPU are
    # reported alongside so a diff can tell a loaded host (wall up, CPU
    # held) from a slower plan (both up, or plan_sha changed).
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    out_dir = tempfile.mkdtemp(prefix="cdi-bench-")
    try:
        # read entries warm at the smallest SF; write entries are not warmed
        warm_up(
            spark,
            [e for e in entries.values() if e.warm],
            SF_WARM,
            os.path.join(out_dir, "warm"),
        )
        cpu_times_start = host_cpu_times()
        for name, entry in entries.items():
            rec = time_entry(spark, entry, sf_dir, out_dir, repeats)
            timings[name] = rec["best"]
            details[name] = rec
        total = round(sum(timings.values()), 3)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    host = {
        "cpus": os.cpu_count(),
        "repeats": repeats,
        "steal_share": round(steal_share(cpu_times_start, host_cpu_times()), 4),
        "cache_sweep_failures": dict(_SWEEP_FAILURES),
    }

    details_obj = {
        "metric": "headline_query_details",
        "details": details,
        "host": host,
        "sf": sf,
    }
    # survive the driver's tail-of-stdout truncation (r9 verdict #1): the
    # full details map also lands in a committed-side file
    details_path = _details_out_path()
    try:
        with open(details_path, "w") as f:
            json.dump(details_obj, f, indent=1)
    except Exception as exc:  # noqa: BLE001
        print(f"WARNING: could not write {details_path}: {exc!r}", file=sys.stderr)

    # The driver captures the tail of stdout and parses the LAST line
    # (r4 evidence: headline-first left parsed:null with the details line
    # in the tail).  So: details line first, then the small headline
    # object {metric, value, unit, queries, sf} as the FINAL stdout line.
    print(json.dumps(details_obj))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "host": host,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
