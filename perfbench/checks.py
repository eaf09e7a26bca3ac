"""Output checks for one cycle, against the generator's bookkeeping.

Every check is tied to the phase call whose output it reads, so a
mismatch marks that call failed:

  ingest   exact per-day row and delete counts; the quarantined count
           run_day returns equals the planted envelope poison; sampled
           records carry the generator's canonical value
  update   one snapshot row per id; as many DELETE winners as ids with a
           DELETE candidate; sampled ids carry an allowed winning value
  publish  every published table (or audit partition) holds exactly the
           expected rows, and sampled audit values are present

Parquet outputs are read back with pyarrow in this process, not with Spark,
so the checker shares no reader with the program it checks; only the
audit JSONL (written with the collection's Hadoop codec) is read with
Spark.  `check_cycle` returns a list of (phase, key, message).
"""

from __future__ import annotations

import os
import traceback

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from cycles import AUDIT_TABLE, CALC_TABLES, Cycle

DAILY_PARTITIONING = ds.partitioning(
    pa.schema(
        [
            ("export_year", pa.int32()),
            ("export_month", pa.int32()),
            ("export_day", pa.int32()),
            ("id_part", pa.string()),
        ]
    ),
    flavor="hive",
)
SNAPSHOT_PARTITIONING = ds.partitioning(pa.schema([("id_part", pa.string())]), flavor="hive")


def check_cycle(spark, cyc: Cycle, expected: dict) -> list[tuple[str, str, str]]:
    fails: list[tuple[str, str, str]] = []
    for call in cyc.calls:
        if call.error is not None:
            fails.append((call.phase, call.key, f"raised {call.error}"))
    done = {(c.phase, c.key): c for c in cyc.calls if c.error is None}
    for day in expected["days"]:
        call = done.get(("ingest", day["date"]))
        if call is not None and call.result != day["quarantined"]:
            fails.append(("ingest", day["date"], f"quarantined {call.result} != planted {day['quarantined']}"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    try:
        if expected["collection"].startswith("data:"):
            fails += _check_audit(spark, warehouse, cyc, expected, done)
        else:
            fails += _check_calc(warehouse, cyc, expected, done)
    except Exception:  # an unreadable output is a failed check, not a crash
        fails.append(("check", cyc.tag, traceback.format_exc(limit=3)))
    return fails


def _check_calc(warehouse: str, cyc: Cycle, expected: dict, done: dict) -> list:
    fails = []
    days = {d["date"]: d for d in expected["days"]}
    ingested = [d for d in days if ("ingest", d) in done]
    if ingested:
        daily = ds.dataset(cyc.daily_root, format="parquet", partitioning=DAILY_PARTITIONING).to_table(
            columns=["id", "db_type", "val", "export_year", "export_month", "export_day"]
        )
        counts: dict[str, list[int]] = {}
        seen: dict[tuple, list] = {}
        sample_ids = {i for d in ingested for i in expected["day_samples"][d]}
        for row in daily.to_pylist():
            date = f"{row['export_year']:04d}-{row['export_month']:02d}-{row['export_day']:02d}"
            c = counts.setdefault(date, [0, 0])
            c[0] += 1
            c[1] += row["db_type"] == "DELETE"
            if row["id"] in sample_ids:
                seen[(date, row["id"])] = [row["db_type"], row["val"]]
        for date in ingested:
            want = days[date]
            n, dels = counts.get(date, (0, 0))
            if (n, dels) != (want["rows_out"], want["deletes"]):
                fails.append(("ingest", date, f"rows/deletes {n}/{dels} != {want['rows_out']}/{want['deletes']}"))
            if any(seen.get((date, i)) != row for i, row in expected["day_samples"][date].items()):
                fails.append(("ingest", date, "sampled value mismatch"))
    update = done.get(("update", "update"))
    if update is not None:
        fails += [("update", "update", m) for m in _check_snapshot(update.result, expected)]
    if ("publish", "publish") in done:
        for name, _ in CALC_TABLES:
            table = f"pb_{cyc.tag}_{name}"
            ids = ds.dataset(os.path.join(warehouse, table), format="parquet").to_table(columns=["_id"])["_id"]
            n, valid = len(ids), len(ids) - ids.null_count
            if (n, valid) != (expected["snapshot_rows"],) * 2:
                fails.append(("publish", "publish", f"{table}: rows/ids {n}/{valid} != {expected['snapshot_rows']}"))
    return fails


def _check_snapshot(prefix: str, expected: dict) -> list[str]:
    snap = ds.dataset(prefix, format="parquet", partitioning=SNAPSHOT_PARTITIONING).to_table(
        columns=["id", "db_type", "val"]
    )
    n = snap.num_rows
    ids = pc.count_distinct(snap["id"]).as_py()
    dels = pc.sum(pc.equal(snap["db_type"], "DELETE")).as_py() or 0
    fails = []
    want = (expected["snapshot_rows"], expected["snapshot_rows"], expected["snapshot_deletes"])
    if (n, ids, dels) != want:
        fails.append(f"rows/ids/deletes {n}/{ids}/{dels} != {want[0]}/{want[1]}/{want[2]}")
    sample = expected["snapshot_sample"]
    picked = snap.filter(pc.is_in(snap["id"], pa.array(sorted(sample)))).to_pylist()
    got: dict[str, list] = {}
    for row in picked:
        got.setdefault(row["id"], []).append((row["db_type"], row["val"]))
    for i, (db_type, allowed) in sample.items():
        winners = got.get(i, [])
        if len(winners) != 1 or winners[0][0] != db_type or winners[0][1] not in allowed:
            fails.append(f"snapshot winner wrong for {i}: {[w[0] for w in winners]}")
            break
    return fails


def _check_audit(spark, warehouse: str, cyc: Cycle, expected: dict, done: dict) -> list:
    fails = []
    ingested = [d["date"] for d in expected["days"] if ("ingest", d["date"]) in done]
    samples_all = sorted({v for d in ingested for v in expected["day_samples"][d]})
    text = {}
    if ingested:
        df = spark.read.text([os.path.join(cyc.daily_root, d) for d in ingested]).withColumn(
            "date", F.regexp_extract(F.col("_metadata.file_path"), r"/(\d{4}-\d{2}-\d{2})/", 1)
        )
        agg = df.groupBy("date").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("value").isin(samples_all).cast("int")).alias("hits")
        )
        text = {r["date"]: (r["n"], r["hits"]) for r in agg.collect()}
    for day in expected["days"]:
        date, samples = day["date"], set(expected["day_samples"][day["date"]])
        if ("ingest", date) in done:
            n, hits = text.get(date, (0, 0))
            if (n, hits) != (day["rows_out"], len(samples)):
                fails.append(("ingest", date, f"rows/sampled {n}/{hits} != {day['rows_out']}/{len(samples)}"))
        if ("publish", date) in done:
            part = os.path.join(warehouse, f"pb_{cyc.tag}.db", AUDIT_TABLE, f"date_str={date}")
            vals = ds.dataset(part, format="parquet").to_table(columns=["val"])["val"].to_pylist() if os.path.isdir(part) else []
            hits = len(samples.intersection(vals))
            if (len(vals), hits) != (day["rows_out"], len(samples)):
                fails.append(("publish", date, f"table rows/sampled {len(vals)}/{hits} != {day['rows_out']}/{len(samples)}"))
    return fails
