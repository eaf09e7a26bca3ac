"""CDI week benchmark: landing days -> weekly merge -> publish, timed end
to end and per module.

    python3 perfbench/run.py --workload calc_week --seed 1 --seconds 30 --trace 0

Run from the repository root.  One process, one client, closed loop: the
process runs each phase after the previous one returns, like the
reference's EMR step, on ``local[nproc]``.

  1. inputs   seeded landing files for the workload (gen.py), generated
              once per seed into .perfbench/cache; not timed
  2. set-up   SparkSession start + one or two warm-up cycles over the
              same input through the same entry points (setup_s, wall time)
  3. measure  a fixed number of whole cycles (cycles.py), about --seconds
              of them; each end-to-end figure is a median over them, in
              CPU seconds of the process tree (the Spark JVM and its
              Python workers): on a shared VM the wall time of a cycle
              follows the CPU other guests take, its CPU time much less
  4. check    every cycle's outputs against the generator's bookkeeping
              (checks.py); a mismatch fails that phase call
  5. trace    with --trace 1, one more cycle with spans around every layer
              call and Spark's REST metrics per phase (spans.py), plus
              single-thread record-function costs (funcbench.py)

Stdout ends with a provenance line and then the result line
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics.  The exit code
is 0 only when every phase call succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("calc_week", "audit_week")
# Per workload: warm-up cycles, the nominal wall time of one warm cycle on a
# 4-vCPU host (s), and the fewest cycles a run measures.  The first cycle of
# a session runs two to three times as long as later ones.  The second still
# uses about a sixth more CPU than the third; audit_week warms up with it,
# while on calc_week, whose cycles cost 12 s each, it is the first measured
# cycle of every run alike.  A run measures a fixed number of cycles,
# --seconds over the nominal cycle time: a count that does not depend on how
# fast the host happens to be, so every run reports the same cycles of its
# session.
CYCLES = {
    "calc_week": dict(warm=1, nominal_s=12.0, least=2),
    "audit_week": dict(warm=2, nominal_s=5.0, least=3),
}


def cycles_to_measure(workload: str, seconds: float) -> int:
    c = CYCLES[workload]
    return max(c["least"], int(seconds / c["nominal_s"] + 0.5))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401
        import dataworks_aws_corporate_data_ingestion_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import cycles
    import gen

    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    # runs go one at a time: whatever an interrupted run left is stale
    shutil.rmtree(os.path.join(base, "work"), ignore_errors=True)
    work = os.path.join(base, "work", f"{args.workload}-s{args.seed}")
    load_start, cpu_start = os.getloadavg(), cycles.host_cpu_times()
    t0 = time.perf_counter()
    case = gen.generate(args.workload, args.seed, os.path.join(base, "cache"))
    gen_s = time.perf_counter() - t0

    graft_cpus_before = os.environ.get("SPARK_GRAFT_CPUS")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        # a heap ceiling sized for this benchmark, not the 32g the package
        # defaults to for 128 GB hosts; the heap still grows as the program needs
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    try:
        result, info = _run(args, case, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info.update(gen_s=gen_s)
    provenance = dict(
        workload=args.workload,
        seed=args.seed,
        nproc=nproc,
        spark_graft_cpus_env=graft_cpus_before,
        mem_total_mb=_mem_total_mb(),
        loadavg_start=load_start,
        loadavg_end=os.getloadavg(),
        cpu_steal_share=cycles.steal_share(cpu_start, cycles.host_cpu_times()),
        python=platform.python_version(),
        pyspark=pyspark.__version__,
        git_sha=_git_sha(),
        **info.pop("provenance"),
    )
    print(json.dumps(dict(provenance=provenance, info=info), sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0 if result["correct"] else 1


def _run(args, case: str, work: str):
    import checks
    import cycles
    import gen
    import spans
    from dataworks_aws_corporate_data_ingestion_spark.session import get_session

    warehouse = os.path.join(work, "warehouse")
    t0 = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        expected = gen.load_expected(case)
        t1 = time.perf_counter()
        warms = []
        for i in range(CYCLES[args.workload]["warm"]):
            warms.append(cycles.run_cycle(spark, case, work, f"warm{i}"))
            gc.collect()
        warmup_s = time.perf_counter() - t1

        measured = []
        for i in range(cycles_to_measure(args.workload, args.seconds)):
            measured.append(cycles.run_cycle(spark, case, work, f"c{i}"))
            gc.collect()
        tracer = traced = rest = None
        if args.trace:
            tracer = spans.Tracer()
            with tracer.installed():
                traced = cycles.run_cycle(spark, case, work, "traced", tracer)
            rest = spans.SparkRest(spark).settled()
            tracer.add_job_spans(rest["jobs"])
        timed = measured + ([traced] if traced else [])

        # checks run after the timed region, so they cannot slow a cycle down
        t3 = time.perf_counter()
        fails = {c.tag: checks.check_cycle(spark, c, expected) for c in timed}
        check_s = time.perf_counter() - t3
        warm_fails = [f for w in warms for f in checks.check_cycle(spark, w, expected)]
        warm_fails += [(w.tag, "", w.error) for w in warms if w.error]
        confs = {
            k: v.replace(ROOT, ".")  # checkout-relative, like every path printed
            for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith(("spark.sql.", "spark.driver.memory", "spark.driver.extraJava", "spark.master"))
        }
        if args.trace:
            layer = _layer_metrics(spark, args, case, expected, measured, traced, tracer, rest)
    finally:
        rss_mb = _stop_spark(spark)

    attempted = failed = 0
    for c in timed:
        bad = {(p, k) for p, k, _ in fails[c.tag]}
        attempted += len(c.calls)
        failed += len(bad)
        if c.error and not any(call.error for call in c.calls):
            attempted += 1  # the run failed outside a timed phase call
            failed += 1
    correct = failed == 0 and not warm_fails
    info = dict(
        provenance=dict(spark_confs=confs),
        session_start_s=start_s,
        warmup_s=warmup_s,
        check_s=check_s,
        warm_failures=warm_fails,
        failures={t: f for t, f in fails.items() if f},
        cycles=[_cycle_info(c) for c in warms + timed],
    )
    figures = _medians(expected, measured)
    if args.trace:
        # the cycle just before: cycles still speed up a little one after another
        untraced = measured[-1].wall
        layer.update({k: v for k, v in figures.items() if "." in k})
        layer.update(
            {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "trace.cycle_s": traced.wall,
                "trace.untraced_cycle_s": untraced,
                "trace.overhead_s": traced.wall - untraced,
                "jvm.peak_rss_mb": rss_mb,
            }
        )
        info["spans"] = tracer.dump()
        units = _layer_units()
        metrics = {k: dict(value=layer[k], unit=u) for k, u in sorted(units.items())}
    else:
        metrics = _end_to_end(figures, start_s + warmup_s, attempted, failed)
    result = dict(correct=correct, attempted=max(attempted, 1), failed=failed, metrics=metrics)
    return result, info


def _medians(expected, measured) -> dict[str, float]:
    """Per-run figures over the measured cycles: each is a median over the
    cycles (or over their run_day calls), in CPU seconds of the whole
    process tree or in wall seconds."""
    med = statistics.median
    lines = sum(d["lines"] for d in expected["days"])

    def per_cycle(phase, attr):
        return [sum(getattr(c, attr) for c in cyc.calls if c.phase == phase) for cyc in measured]

    def per_call(phase, attr):
        return [getattr(c, attr) for cyc in measured for c in cyc.calls if c.phase == phase and not c.error]

    ingest_wall = per_cycle("ingest", "wall")
    return {
        "cycle_cpu_s": med(c.cpu for c in measured),
        "ingest_cpu_s": med(per_call("ingest", "cpu") or [0.0]),
        "publish_cpu_s": med(per_cycle("publish", "cpu")),
        "update.cpu_s": med(per_cycle("update", "cpu")),
        "wall.cycle_s": med(c.wall for c in measured),
        "wall.ingest_day_s": med(per_call("ingest", "wall") or [0.0]),
        "wall.ingest_rps": med(lines / w for w in ingest_wall) if all(ingest_wall) else 0.0,
        "wall.publish_s": med(per_cycle("publish", "wall")),
        "wall.update_s": med(per_cycle("update", "wall")),
    }


E2E_UNITS = {
    "setup_s": "s",
    "cycle_cpu_s": "s",
    "ingest_cpu_s": "s",
    "publish_cpu_s": "s",
    "ok_ops_ratio": "ratio",
}


def _end_to_end(figures, setup_s, attempted, failed) -> dict:
    values = dict(figures, setup_s=setup_s, ok_ops_ratio=1.0 - failed / max(attempted, 1))
    return {k: dict(value=values[k], unit=u) for k, u in E2E_UNITS.items()}


# ------------------------------------------------------------ per layer --


def _layer_units() -> dict[str, str]:
    from spans import PHASE_METRICS, PHASES

    units = {f"{ph}.{name}": unit for ph in PHASES for name, unit in PHASE_METRICS}
    units.update(
        {
            "session.start_s": "s",
            "session.warmup_s": "s",
            "functions.envelope_us": "us",
            "functions.decrypt_us": "us",
            "functions.process_us": "us",
            "functions.key_service_calls": "count",
            "functions.key_cache_hit_ratio": "ratio",
            "writers.files_per_day": "count",
            "writers.mb_per_day": "MB",
            "writers.mean_file_kb": "kB",
            "merge.rows_in": "count",
            "merge.rows_out": "count",
            "merge.dedup_ratio": "ratio",
            "merge.prune_ratio": "ratio",
            "state.calls": "count",
            "state.put_ms": "ms",
            "state.lookup_ms": "ms",
            "trace.cycle_s": "s",
            "trace.untraced_cycle_s": "s",
            "trace.overhead_s": "s",
            "jvm.peak_rss_mb": "MB",
            "update.cpu_s": "s",
            "wall.cycle_s": "s",
            "wall.ingest_day_s": "s",
            "wall.ingest_rps": "records/s",
            "wall.publish_s": "s",
            "wall.update_s": "s",
        }
    )
    for layer in SELF_LAYERS:
        units[f"{layer}.self_ms"] = "ms"
    return units


SELF_LAYERS = (
    "plans.runner",
    "operators.ingest",
    "sinks.writers",
    "operators.merge",
    "plans.publish",
    "plans.state",
    "pyspark",
)


def _layer_metrics(spark, args, case, expected, measured, traced, tracer, rest) -> dict:
    import funcbench
    import spans

    out: dict[str, float] = {}
    per_phase = spans.phase_metrics(traced.calls, rest)
    coverage = spans.phase_coverage(tracer.spans)
    for ph, m in per_phase.items():
        for name, v in m.items():
            out[f"{ph}.{name}"] = v
        out[f"{ph}.coverage"] = coverage.get(ph, 0.0)
    self_ms = spans.layer_self_ms(tracer.spans)
    for layer in SELF_LAYERS:
        out[f"{layer}.self_ms"] = self_ms.get(layer, 0.0)

    fb = funcbench.measure(case, expected["collection"], args.seed)
    out.update({f"functions.{k}": v for k, v in fb.items()})
    first = measured[0]
    decrypted = sum(d["lines"] - d["quarantined"] for d in expected["days"])
    out["functions.key_service_calls"] = first.key_calls
    out["functions.key_cache_hit_ratio"] = 1.0 - first.key_calls / decrypted

    files, size = _daily_files(traced, expected)
    n_days = len(expected["days"])
    out["writers.files_per_day"] = len(files) / n_days
    out["writers.mb_per_day"] = size / 1e6 / n_days
    out["writers.mean_file_kb"] = size / 1e3 / max(len(files), 1)

    merged = tracer.calls.get("merge.merge_snapshot")
    written = tracer.calls.get("writers.write_snapshot")
    if merged is not None and written is not None:
        from pyspark.sql import functions as F

        (snapshot, dailies), _ = merged
        # files the pruned read opens (inputFiles() lists the unpruned relation)
        opened = dailies.select(F.input_file_name()).distinct().count()
        rows_in = snapshot.count() + dailies.count()
        rows_out = spark.read.parquet(written[0][1]).count()
        out["merge.rows_in"] = rows_in
        out["merge.rows_out"] = rows_out
        out["merge.dedup_ratio"] = rows_out / max(rows_in, 1)
        out["merge.prune_ratio"] = opened / max(len(_data_files(traced.daily_root)), 1)
    else:
        out.update({k: 0.0 for k in ("merge.rows_in", "merge.rows_out", "merge.dedup_ratio", "merge.prune_ratio")})

    st = [s for s in tracer.spans if s.layer == "plans.state"]
    out["state.calls"] = len(st)
    out["state.put_ms"] = sum(s.end - s.start for s in st if s.name.endswith(".put")) * 1000
    out["state.lookup_ms"] = sum(s.end - s.start for s in st if s.name.endswith("latest_completed_export")) * 1000
    return out


def _data_files(root: str) -> list[str]:
    found = []
    for d, _, names in os.walk(root):
        found += [os.path.join(d, n) for n in names if not n.startswith((".", "_"))]
    return found


def _daily_files(cyc, expected) -> tuple[list[str], int]:
    """Files the cycle's run_day calls wrote (last week's copies excluded)."""
    files = []
    for day in expected["days"]:
        y, m, d = (int(x) for x in day["date"].split("-"))
        for sub in (day["date"], f"export_year={y}/export_month={m}/export_day={d}"):
            files += _data_files(os.path.join(cyc.daily_root, sub))
    return files, sum(os.path.getsize(f) for f in files)


# ------------------------------------------------------------- teardown --


def _stop_spark(spark) -> float:
    """Stop the session and the JVM it launched, wait until every process
    started under this one has exited, and return the peak RSS (MB) of
    the largest of them, from getrusage(RUSAGE_CHILDREN)."""
    import signal

    from pyspark import SparkContext

    import cycles

    procs = cycles.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits on EOF of its stdin
            jvm.wait(timeout=60)
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024


# ----------------------------------------------------------------- misc --


def _cycle_info(c) -> dict:
    return dict(
        tag=c.tag,
        wall_s=c.wall,
        cpu_s=c.cpu,
        steal=c.steal,
        error=c.error,
        key_service_calls=c.key_calls,
        calls=[dict(phase=x.phase, key=x.key, wall_s=x.wall, cpu_s=x.cpu, error=x.error) for x in c.calls],
    )


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fd:
        for line in fd:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _git_sha() -> str:
    """HEAD's sha when the checkout is a git work tree, else 'unknown'."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


if __name__ == "__main__":
    sys.exit(main())
