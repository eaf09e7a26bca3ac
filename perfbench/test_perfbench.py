"""The benchmark's own tests: generator determinism and oracle, the
checker's teeth, and the layer-metric arithmetic.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The checker tests start a local SparkSession and run one tiny
cycle through the engine (~30 s on 4 cores).
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import spans  # noqa: E402
from cycles import Call, tree_cpu_s  # noqa: E402

from dataworks_aws_corporate_data_ingestion_spark.functions import record  # noqa: E402
from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import aes_ctr_decrypt  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path, "rb") as fd:
                out[os.path.relpath(path, root)] = hashlib.sha256(fd.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ["calc_week_small", "audit_week_small"])
def test_generator_is_byte_deterministic_per_seed(tmp_path, workload):
    a = _digest(gen.generate(workload, 3, str(tmp_path / "a")))
    b = _digest(gen.generate(workload, 3, str(tmp_path / "b")))
    c = _digest(gen.generate(workload, 4, str(tmp_path / "c")))
    assert a == b
    assert any(name.startswith("landing") for name in a)
    assert {k: v for k, v in a.items() if k.startswith("landing")} != {
        k: v for k, v in c.items() if k.startswith("landing")
    }


def _pipeline_values(case: str, collection: str) -> dict[str, tuple[str, bool]]:
    """The engine's record functions applied line by line (no Spark):
    envelope id -> (canonical value, is_delete); undecodable lines skipped."""
    out = {}
    db, coll = collection.split(":")
    for path in sorted(glob.glob(os.path.join(case, "landing", "*", "*", "*", "*.gz"))):
        with gzip.open(path, "rt") as fd:
            for line in fd:
                try:
                    env = record.parse_envelope(line, collection)
                    plain = aes_ctr_decrypt(env.db_object, env.encrypted_encryption_key, env.initialisation_vector)
                except (ValueError, KeyError, TypeError):
                    continue
                if collection == gen.AUDIT:
                    out[plain] = record.process_parsed(record.audit_context(plain, env.last_modified), db, coll)
                else:
                    out[env.id] = record.process_record(plain, db, coll)
    return out


def test_expected_values_are_canonical_and_match_the_record_chain(tmp_path):
    case = gen.generate("calc_week_small", 5, str(tmp_path))
    exp = gen.load_expected(case)
    got = _pipeline_values(case, gen.CALC)
    for date, sample in exp["day_samples"].items():
        for i, (db_type, val) in sample.items():
            assert json.dumps(json.loads(val), sort_keys=True, separators=(",", ":"), ensure_ascii=False) == val
            assert got[i] == (val, db_type == "DELETE")

    case = gen.generate("audit_week_small", 5, str(tmp_path))
    exp = gen.load_expected(case)
    vals = {v for v, _ in _pipeline_values(case, gen.AUDIT).values()}
    day = exp["days"][0]
    assert len(vals) == day["rows_out"]
    assert set(exp["day_samples"][day["date"]]) <= vals


def test_tree_cpu_counts_exited_children():
    before = tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s() - before >= 0.45


def test_parse_sql_metric_forms():
    assert spans.parse_sql_metric("400") == 400
    assert spans.parse_sql_metric("4.3 s") == pytest.approx(4300)
    total = "total (min, med, max (stageId: taskId))\n1.2 m (2.1 s, 2.2 s, 2.2 s (stage 0.0: task 0))"
    assert spans.parse_sql_metric(total) == pytest.approx(72_000)
    size = "total (min, med, max (stageId: taskId))\n469.9 KiB (191.3 KiB, 278.7 KiB (stage 0.0: task 0))"
    assert spans.parse_sql_metric(size) == pytest.approx(469.9 * 1024)
    assert spans.parse_sql_metric("1,024 ms") == 1024


def _job(job_id, t0, t1, stage_ids):
    fmt = "2026-01-01T00:00:%06.3fGMT"
    return dict(jobId=job_id, submissionTime=fmt % t0, completionTime=fmt % t1, stageIds=stage_ids, status="SUCCEEDED")


def _stage(sid, shuffle_write=0, output=0):
    return dict(
        stageId=sid, status="COMPLETE", numCompleteTasks=2, executorRunTime=10, executorCpuTime=5_000_000,
        jvmGcTime=1, shuffleWriteBytes=shuffle_write, shuffleReadBytes=0, shuffleFetchWaitTime=0,
        memoryBytesSpilled=0, diskBytesSpilled=0, inputBytes=1000, outputBytes=output,
    )


def test_phase_metrics_with_a_phase_that_has_no_jobs():
    epoch = spans.parse_spark_time("2026-01-01T00:00:00.000GMT")
    rest = dict(
        jobs=[_job(0, 1.0, 2.0, [0]), _job(1, 2.1, 3.0, [1]), _job(2, 3.1, 4.0, [2, 3])],
        stages=[_stage(0), _stage(1), _stage(2, shuffle_write=10), _stage(3, output=5)],
        sql=[dict(successJobIds=[0, 1, 2], nodes=[dict(metrics=[dict(name="time to run Python workers", value="1.5 s")])])],
    )
    calls = [
        Call("ingest", "d1", epoch + 0.5, 4.0),
        Call("update", "update", epoch + 10.0, 1.0),  # no job inside
    ]
    out = spans.phase_metrics(calls, rest)
    assert out["ingest"]["jobs"] == 3 and out["ingest"]["stages"] == 4
    assert out["ingest"]["sampler_jobs"] == 2
    assert out["ingest"]["python_total_ms"] == pytest.approx(1500)
    assert out["ingest"]["driver_idle_ms"] == pytest.approx(4000 - 2800, abs=1)
    assert all(v == 0 for k, v in out["update"].items() if k not in ("wall_ms", "driver_idle_ms"))
    assert out["update"]["driver_idle_ms"] == pytest.approx(1000)
    assert all(v == 0 for v in out["publish"].values())


def test_self_time_and_coverage():
    s = [
        spans.Span(0, None, "phase.update", "phase", 0.0, 10.0),
        spans.Span(1, 0, "runner.run_update", "plans.runner", 0.0, 10.0),
        spans.Span(2, 1, "merge.merge_snapshot", "operators.merge", 1.0, 2.0),
        spans.Span(3, 1, "writers.write_snapshot", "sinks.writers", 2.0, 9.0),
        spans.Span(4, 0, "spark.job.1", "spark", 2.0, 8.0),
    ]
    assert spans.layer_self_ms(s) == {"plans.runner": 2000, "operators.merge": 1000, "sinks.writers": 7000}
    assert spans.phase_coverage(s) == {"update": pytest.approx(0.8)}


def test_benchmark_json_names_every_reported_metric():
    import run

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {m["name"] for m in bench["per_layer"]} == set(run._layer_units())
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert units == run._layer_units()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


# ------------------------------------------------------------- checker --


@pytest.fixture(scope="module")
def spark_cycle(tmp_path_factory):
    """One real calc cycle over a tiny input, for the checker tests."""
    import cycles

    from dataworks_aws_corporate_data_ingestion_spark.session import get_session

    tmp = tmp_path_factory.mktemp("perfbench")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    spark = get_session(
        app_name="perfbench-tests",
        master="local[2]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        },
    )
    case = gen.generate("calc_week_small", 7, str(tmp / "cache"))
    cyc = cycles.run_cycle(spark, case, str(tmp / "work"), "t")
    yield spark, cyc, gen.load_expected(case)
    spark.stop()


def test_checker_accepts_a_good_cycle(spark_cycle):
    import checks

    spark, cyc, exp = spark_cycle
    assert cyc.error is None
    assert checks.check_cycle(spark, cyc, exp) == []


def test_checker_rejects_a_corrupted_snapshot(spark_cycle, tmp_path):
    import checks

    spark, cyc, exp = spark_cycle
    prefix = next(c.result for c in cyc.calls if c.phase == "update")
    victim = sorted(glob.glob(os.path.join(prefix, "id_part=*", "*.parquet")))[0]
    dup = os.path.join(os.path.dirname(victim), "part-duplicate.parquet")
    shutil.copy(victim, dup)  # every row of one file now appears twice
    try:
        fails = checks.check_cycle(spark, cyc, exp)
    finally:
        os.remove(dup)
    assert fails and {p for p, _, _ in fails} == {"update"}


def test_checker_rejects_a_dropped_day(spark_cycle, tmp_path):
    import checks

    spark, cyc, exp = spark_cycle
    day = exp["days"][0]["date"]
    y, m, d = (int(x) for x in day.split("-"))
    path = os.path.join(cyc.daily_root, f"export_year={y}", f"export_month={m}", f"export_day={d}")
    moved = str(tmp_path / "dropped")
    shutil.move(path, moved)
    try:
        fails = checks.check_cycle(spark, cyc, exp)
    finally:
        shutil.move(moved, path)
    assert ("ingest", day) in {(p, k) for p, k, _ in fails}
