#!/usr/bin/env python3
"""Measured scale-up decade for the 5 flagship ops (VERDICT r5 #2).

Runs cdi_ingest_pipeline, write_daily_clustered_orc,
merge_and_write_snapshot, snapshot_update_cycle, near_dup_pairs_minhash
and bm25_search_postings at sf0.01 / sf0.1 / sf1.0 over the
tools/make_scale_data.py tables (same generator recipe at every sf, so
exponents measure the ENGINE, not generator drift), best-of-N per point,
with executor-side stage metrics (shuffle MB) for the final repeat.
Every op is prepared and timed as bench.py times it (bench.time_entry
over workload.bench_entry): cdi_ingest_pipeline is the pipeline over its
materialised fixture, and each write op's prepare writes its inputs.

Fits the per-op scaling exponent b in t = a * sf^b over the decade
(log-log least squares across the three points).  b <= ~1 + shuffle
growth means the op holds its contract (the merge must stay one-exchange
linear, reference steps/ingesters.py:448-457); local fixed overhead
(session, task launch on 32 threads) biases b DOWN at tiny sf, so the
top decade (sf0.1 -> sf1.0) slope is also reported.

Usage: python tools/scale_decade.py [--repeats N] [--out FILE]
Writes JSON to SCALE_DECADE.json and prints a markdown table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = [0.01, 0.1, 1.0]

FLAGSHIP_QUERIES = ["cdi_ingest_pipeline", "near_dup_pairs_minhash", "bm25_search_postings"]
FLAGSHIP_WRITES = ["write_daily_clustered_orc", "merge_and_write_snapshot", "snapshot_update_cycle"]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--repeats", type=int, default=3)
    p.add_argument("--out", default=os.path.join(REPO, "SCALE_DECADE.json"))
    p.add_argument(
        "--queries",
        nargs="*",
        default=None,
        help="restrict to these registry queries (skips the write ops) "
        "and MERGE the measured ops into an existing --out JSON",
    )
    p.add_argument(
        "--writes",
        nargs="*",
        default=None,
        help="restrict to these write entries (skips the queries) "
        "and MERGE the measured ops into an existing --out JSON",
    )
    p.add_argument(
        "--sfs",
        nargs="*",
        type=float,
        default=None,
        help="scale factors to measure (default 0.01 0.1 1.0); new "
        "points MERGE into existing per-op records in --out",
    )
    args = p.parse_args()

    from bench import time_entry, warm_up
    from dataworks_aws_corporate_data_ingestion_spark.session import get_session
    from dataworks_aws_corporate_data_ingestion_spark.workload import bench_entry

    restricted = args.queries is not None or args.writes is not None
    flagship_queries = (
        args.queries
        if args.queries is not None
        else ([] if restricted else FLAGSHIP_QUERIES)
    )
    flagship_writes = (
        args.writes
        if args.writes is not None
        else ([] if restricted else FLAGSHIP_WRITES)
    )
    ops = {name: bench_entry(name) for name in flagship_queries + flagship_writes}
    sfs = args.sfs if args.sfs else SFS

    for sf in sfs:
        d = os.path.join(REPO, ".scaledata", f"sf{sf}")
        if not os.path.isdir(d):
            raise SystemExit(
                f"{d} missing -- run: python tools/make_scale_data.py {sf}"
            )

    spark = get_session(app_name="cdi-scale-decade")
    spark.sparkContext.setLogLevel("ERROR")

    # warm every plan once at the smallest sf BEFORE any timing: the first
    # execution pays JVM codegen + Python-UDF worker spin-up, which
    # otherwise lands in the sf0.01 points and bends the fitted exponent
    # negative (observed on the first pass of this tool)
    warm_out = tempfile.mkdtemp(prefix="cdi-scale-warm-")
    try:
        warm_up(
            spark, ops.values(), os.path.join(REPO, ".scaledata", "sf0.01"), warm_out
        )
    finally:
        shutil.rmtree(warm_out, ignore_errors=True)

    results: dict[str, dict] = {}
    for sf in sfs:
        sf_dir = os.path.join(REPO, ".scaledata", f"sf{sf}")
        print(f"== sf{sf} ({sf_dir})", flush=True)
        out_dir = tempfile.mkdtemp(prefix=f"cdi-scale-{sf}-")
        try:
            for name, entry in ops.items():
                rec = time_entry(spark, entry, sf_dir, out_dir, args.repeats)
                metrics = rec["stages"] or {}
                results.setdefault(name, {"points": {}})["points"][str(sf)] = {
                    "best_sec": rec["best"],
                    "median_sec": rec["median"],
                    "shuffle_write_mb": metrics.get("shuffle_write_mb"),
                    "input_mb": metrics.get("input_mb"),
                    "n_tasks": metrics.get("n_tasks"),
                }
                print(
                    f"  {name} sf{sf}: best {rec['best']:.3f}s "
                    f"shuffleW {metrics.get('shuffle_write_mb')}MB",
                    flush=True,
                )
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    # merge new points into per-op records already in --out (so a
    # targeted rerun -- one op at a new sf -- extends its curve instead
    # of replacing it)
    if restricted or args.sfs:
        if os.path.exists(args.out):
            with open(args.out) as fd:
                prior = json.load(fd)
            for name, rec in results.items():
                old = prior.get("results", {}).setdefault(
                    name, {"points": {}}
                )
                old["points"].update(rec["points"])
            results = prior["results"]

    def _fit(name, rec):
        """Exponent fits over the op's measured points.

        Fixed overhead (session, task launch on 32 local threads)
        dominates the smallest sfs for fast ops and bends the fitted
        exponent negative/meaningless; any point whose time EXCEEDS the
        next-larger sf's time is overhead-dominated by definition, so
        the full fit drops leading points until times are
        non-decreasing, and records which points it dropped.  The
        top-decade slope uses the two LARGEST sfs -- the most
        data-dominated pair measured."""
        pts = sorted(
            ((float(s), p["best_sec"]) for s, p in rec["points"].items())
        )
        if len(pts) < 2:
            # single-point targeted rerun (fresh --out, one --sfs value):
            # exponents are undefined -- keep the measurement, skip the fit
            for k in (
                "exponent_full",
                "exponent_top_decade",
                "top_decade_sfs",
                "overhead_dominated_sfs_excluded",
            ):
                rec.pop(k, None)
            return
        fit_pts = list(pts)
        dropped = []
        while len(fit_pts) > 2 and fit_pts[0][1] > fit_pts[1][1]:
            dropped.append(fit_pts.pop(0)[0])
        xs = [math.log10(s) for s, _ in fit_pts]
        ys = [math.log10(t) for _, t in fit_pts]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        rec["exponent_full"] = round(b, 3)
        if dropped:
            rec["overhead_dominated_sfs_excluded"] = dropped
        else:
            rec.pop("overhead_dominated_sfs_excluded", None)
        (s_lo, t_lo), (s_hi, t_hi) = pts[-2], pts[-1]
        rec["exponent_top_decade"] = round(
            math.log10(t_hi / t_lo) / math.log10(s_hi / s_lo), 3
        )
        rec["top_decade_sfs"] = [s_lo, s_hi]
        # shuffle-bytes growth over the same decade (r9 verdict #5): a
        # wall-time exponent near 1 with a shuffle exponent well above 1
        # is the at-scale warning wall-time alone hides on 32 local cores
        sh_lo = rec["points"][str(s_lo)].get("shuffle_write_mb")
        sh_hi = rec["points"][str(s_hi)].get("shuffle_write_mb")
        if sh_lo and sh_hi:
            rec["shuffle_exponent_top_decade"] = round(
                math.log10(sh_hi / sh_lo) / math.log10(s_hi / s_lo), 3
            )

    for name, rec in results.items():
        _fit(name, rec)

    with open(args.out, "w") as fd:
        json.dump({"repeats": args.repeats, "results": results}, fd, indent=1)
    print(f"\nwrote {args.out}\n")
    print("| op | points (sf: best_sec) | b (full) | b (top decade) |")
    print("|---|---|---|---|")
    for name, rec in results.items():
        pts = " ".join(
            f"{s}:{p['best_sec']}"
            for s, p in sorted(
                rec["points"].items(), key=lambda kv: float(kv[0])
            )
        )
        print(
            f"| {name} | {pts} | {rec.get('exponent_full', '-')} |"
            f" {rec.get('exponent_top_decade', '-')} |"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
