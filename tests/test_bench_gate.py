"""bench.py's measurement record and tools/bench_diff.py's round-over-round
ladder, plus a guard that every tool importing from bench.py still finds
what it imports."""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import os

import bench


def _bench_diff():
    spec = importlib.util.spec_from_file_location(
        "bench_diff", os.path.join(bench._REPO_ROOT, "tools", "bench_diff.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


# One synthetic (old, new) details pair per class of the ladder, at
# threshold 0.15, and observed pairs under their entry's name.  Records
# carry cpu_s, as bench.py writes them now.
_LADDER = {
    "PLAN-CHANGED": ({"best": 1.0, "cpu_s": 2.0, "plan_sha": "a"},
                     {"best": 1.0, "median": 1.0, "cpu_s": 2.0, "plan_sha": "b"}),
    "steady": ({"best": 1.0, "cpu_s": 2.0, "plan_sha": "a"},
               {"best": 1.1, "median": 1.1, "cpu_s": 2.0, "plan_sha": "a"}),
    "HOST-DRIFT": ({"best": 1.0, "cpu_s": 2.0, "plan_sha": "a"},
                   {"best": 1.5, "median": 1.5, "cpu_s": 2.1, "plan_sha": "a"}),
    "HOST-NOISE?": ({"best": 1.0, "cpu_s": 2.0, "plan_sha": "a"},
                    {"best": 2.5, "median": 5.0, "cpu_s": 5.0, "plan_sha": "a"}),
    "FASTER": ({"best": 1.0, "cpu_s": 2.0, "plan_sha": "a"},
               {"best": 0.5, "median": 0.5, "cpu_s": 1.0, "plan_sha": "a"}),
    "SLOWER": ({"best": 1.0, "cpu_s": 2.0, "plan_sha": "a"},
               {"best": 2.5, "median": 2.6, "cpu_s": 5.0, "plan_sha": "a"}),
    # two unchanged runs: the wall rose while the CPU fell
    "events_hourly_windows": ({"best": 0.26, "cpu_s": 0.55, "plan_sha": "a"},
                              {"best": 0.31, "median": 0.32, "cpu_s": 0.40,
                               "plan_sha": "a"}),
}
_WANT = {name: name for name in _LADDER} | {"events_hourly_windows": "HOST-DRIFT"}
# The same pairs as artifacts written before bench.py recorded cpu_s: the
# CPU rung cannot fire, so the host-drift pairs read as SLOWER.
_LADDER_NO_CPU = {
    name: tuple({k: v for k, v in rec.items() if k != "cpu_s"} for rec in pair)
    for name, pair in _LADDER.items()
}
_WANT_NO_CPU = _WANT | {"HOST-DRIFT": "SLOWER", "events_hourly_windows": "SLOWER"}


class TestClassifyLadder:
    """tools/bench_diff.py is the one comparator: its `classify` over the
    ladder, and its CLI over files of both shapes."""

    def test_classify_table(self):
        classify = _bench_diff().classify
        for ladder, want in ((_LADDER, _WANT),
                             (_LADDER_NO_CPU, _WANT_NO_CPU)):
            got = {
                name: classify(old, new, old["best"], new["best"], 0.15)
                for name, (old, new) in ladder.items()
            }
            assert got == want

    def test_bench_diff_cli(self, tmp_path, monkeypatch, capsys):
        bench_diff = _bench_diff()
        for ladder, want in ((_LADDER, _WANT),
                             (_LADDER_NO_CPU, _WANT_NO_CPU)):
            paths = []
            for side in (0, 1):
                path = tmp_path / f"side{side}.json"
                path.write_text(json.dumps({
                    "details": {n: pair[side] for n, pair in ladder.items()},
                }))
                paths.append(str(path))
            monkeypatch.setattr(bench_diff.sys, "argv", ["bench_diff", *paths])
            assert bench_diff.main() == 0
            rows = {}
            for line in capsys.readouterr().out.splitlines():
                parts = line.split()
                if parts and parts[0] in ladder:
                    rows[parts[0]] = parts[-1]
            assert rows == want


class TestTimedRecord:
    def test_cpu_and_wall_over_a_tiny_job(self, spark):
        rec = bench._timed_record(
            spark,
            lambda: spark.range(2_000_000)
            .selectExpr("sum(id * 7 % 13)")
            .write.format("noop")
            .mode("overwrite")
            .save(),
            3,
        )
        assert rec["cpu_s"] > 0
        assert rec["best"] <= rec["median"]
        assert isinstance(rec["jit_ms"], int) and rec["jit_ms"] >= 0


def test_plan_sha_ignores_the_warehouse_location():
    """A catalog table's scan names its warehouse directory, which defaults
    to <cwd>/spark-warehouse: the same plan run from two working
    directories must get one sha, and a different table must not."""
    scan = (
        "FileScan parquet spark_catalog.default.{table}[k#4L] Batched: true,"
        " Format: Parquet, Location: InMemoryFileIndex(1 paths)"
        "[file:{cwd}/spark-warehouse/{table}], PartitionFilters: []"
    )
    here = scan.format(cwd="/home/a/checkout", table="t_mg")
    there = scan.format(cwd="/srv/other dir/run-2", table="t_mg")
    other = scan.format(cwd="/home/a/checkout", table="t_cms")
    assert bench.plan_text_sha(here) == bench.plan_text_sha(there)
    assert bench.plan_text_sha(here) != bench.plan_text_sha(other)


def _bench_imports(path: str) -> list[str]:
    names = []
    for node in ast.walk(ast.parse(open(path).read(), filename=path)):
        if isinstance(node, ast.ImportFrom) and node.module == "bench":
            names.extend(alias.name for alias in node.names)
    return names


def test_tool_bench_imports_resolve():
    """A cut in bench.py must fail here, not later inside a tool run."""
    imports = {
        os.path.basename(path): _bench_imports(path)
        for path in glob.glob(os.path.join(bench._REPO_ROOT, "tools", "*.py"))
    }
    assert {tool for tool, names in imports.items() if names} >= {
        "bench_one.py", "bpe_k_sweep.py", "pin_plan_shas.py", "scale_decade.py",
    }
    missing = {
        tool: [n for n in names if not hasattr(bench, n)]
        for tool, names in imports.items()
    }
    assert not {tool: names for tool, names in missing.items() if names}
