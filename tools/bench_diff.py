#!/usr/bin/env python3
"""Round-over-round bench comparison, self-adjudicating (r9 verdict #1):
every delta is classified as plan-change, host drift, or genuine.

Usage: python tools/bench_diff.py OLD.json NEW.json [--threshold=0.15]

Each input is a bench.py stdout capture (headline line + details line), a
driver BENCH_r*.json wrapper with a "tail" field, or a committed
BENCH_DETAILS_r*.json (the full details object bench.py writes to the
repo root so the driver's tail truncation cannot eat it).

Classification per common query (`classify`):

  PLAN-CHANGED   plan_sha differs -> the code asked for a different plan;
                 the timing delta is attributable to the change
  steady         sha unchanged, |best wall delta| within threshold
  HOST-DRIFT     sha unchanged, best wall moved beyond threshold, but the
                 median process-tree CPU (cpu_s) stayed within it or moved
                 the other way -- the host got slower/faster (on a VM wall
                 time follows hypervisor steal), the code did no more work
                 in the direction the wall moved.  Needs cpu_s in both
                 files; older artifacts never take this rung
  HOST-NOISE?    sha unchanged and the new median >> new best (a load
                 spike inside the repeat set)
  FASTER/SLOWER  sha unchanged, beyond threshold, NOT explained by a held
                 or contrary CPU -- a genuine runtime change at constant plan
                 (data size, library, caching)

Shas recorded before the round-4 context-free fingerprint fix are not
comparable across contexts; treat PLAN-CHANGED vs pre-r4 files with
suspicion (see ROUND_NOTES.md round-4 addendum).
"""

from __future__ import annotations

import json
import sys


def classify(old: dict | None, new: dict | None, ot: float, nt: float, thr: float) -> str:
    """One entry's class from its old/new details records, old/new best
    seconds and the steady threshold (a relative delta)."""
    old, new = old or {}, new or {}
    osha, nsha = old.get("plan_sha"), new.get("plan_sha")
    if osha and nsha and osha != nsha:
        return "PLAN-CHANGED"
    rel = (nt - ot) / ot if ot else 0.0
    if abs(rel) <= thr:
        return "steady"
    oc, nc = old.get("cpu_s"), new.get("cpu_s")
    if oc and nc and (abs(nc - oc) / oc <= thr or (nc - oc) * rel < 0):
        return "HOST-DRIFT"
    nb, nm = new.get("best"), new.get("median")
    if nb and nm and nm > nb * 1.8:
        return "HOST-NOISE?"
    return "FASTER" if rel < 0 else "SLOWER"


def load(path: str) -> tuple[dict, dict]:
    """Returns (timings, details) from any of the accepted shapes."""
    text = open(path).read()
    timings, details = {}, {}

    def absorb(obj: dict) -> None:
        nonlocal timings, details
        if "queries" in obj:
            timings = obj["queries"]
        if "details" in obj:
            details = obj["details"]

    try:
        obj = json.loads(text)
        if isinstance(obj, dict) and "tail" in obj:
            text = obj["tail"]
        elif isinstance(obj, dict):
            absorb(obj)
            if timings or details:
                if not timings:
                    timings = {
                        q: d.get("best")
                        for q, d in details.items()
                        if isinstance(d, dict) and d.get("best") is not None
                    }
                return timings, details
    except json.JSONDecodeError:
        pass
    for line in text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            absorb(json.loads(line))
        except json.JSONDecodeError:
            continue
    if not timings and details:
        timings = {
            q: d.get("best")
            for q, d in details.items()
            if isinstance(d, dict) and d.get("best") is not None
        }
    return timings, details


def _cpu(rec: dict | None) -> str:
    cpu = (rec or {}).get("cpu_s")
    return "-" if cpu is None else f"{cpu:.2f}"


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 0.15
    for a in sys.argv[1:]:
        if a.startswith("--threshold="):
            thr = float(a.split("=", 1)[1])
    old_t, old_d = load(args[0])
    new_t, new_d = load(args[1])
    for path, t in ((args[0], old_t), (args[1], new_t)):
        if not t:
            print(f"no parseable headline queries in {path} (truncated"
                  " pre-r4 capture?)")
            return 1
    common = sorted(set(old_t) & set(new_t))
    total_o = total_n = 0.0
    counts: dict[str, int] = {}
    print(f"{'query':40s} {'old':>7s} {'new':>7s} {'delta':>7s}"
          f" {'cpu old':>7s} {'cpu new':>7s}  class")
    for q in common:
        ot, nt = old_t[q], new_t[q]
        total_o += ot
        total_n += nt
        cls = classify(old_d.get(q), new_d.get(q), ot, nt, thr)
        counts[cls] = counts.get(cls, 0) + 1
        print(f"{q:40s} {ot:7.2f} {nt:7.2f} {nt - ot:+7.2f}"
              f" {_cpu(old_d.get(q)):>7s} {_cpu(new_d.get(q)):>7s}  {cls}")
    only_old = sorted(set(old_t) - set(new_t))
    only_new = sorted(set(new_t) - set(old_t))
    print(f"\ncommon-{len(common)} total: {total_o:.1f} -> {total_n:.1f}"
          f" ({(total_n - total_o) / total_o * 100:+.0f}%)")
    print("classes:", ", ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    if only_old:
        print("dropped:", ", ".join(only_old))
    if only_new:
        print("added:  ", ", ".join(f"{q} ({new_t[q]:.2f})" for q in only_new))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
