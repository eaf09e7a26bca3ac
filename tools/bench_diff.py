#!/usr/bin/env python3
"""Round-over-round bench comparison, self-adjudicating (r9 verdict #1):
every delta is classified as plan-change, era-drift, or genuine.

Usage: python tools/bench_diff.py OLD.json NEW.json [--threshold 0.15]
       [--probe q1_pricing_summary]

Each input is a bench.py stdout capture (headline line + details line), a
driver BENCH_r*.json wrapper with a "tail" field, or a committed
BENCH_DETAILS_r*.json (the full details object bench.py writes to the
repo root so the driver's tail truncation cannot eat it).

Classification per common query:

  PLAN-CHANGED   plan_sha differs -> the code asked for a different plan;
                 the timing delta is attributable to the change
  steady         sha unchanged, |raw delta| within threshold
  ERA-DRIFT      sha unchanged, raw delta beyond threshold, but the delta
                 matches the host-era ratio (see below) within threshold
                 -- the machine got slower/faster, not the code.  This is
                 exactly the adjudication the r9 judge had to do with a
                 worktree A/B: identical plans measured 1.3x slower
                 because the HOST era drifted.
  HOST-NOISE?    sha unchanged and the new median >> new best (a load
                 spike inside the repeat set)
  FASTER/SLOWER  sha unchanged, beyond threshold, NOT explained by the
                 era ratio -- a genuine runtime change at constant plan
                 (data size, library, caching)

The ladder is bench.classify -- the same function bench.py uses to stamp
each entry's vs_prev class.

The era ratio comes from the anchor blocks bench.py records (host.anchor:
a pinned plan-stable probe timed against the committed BENCH_ANCHOR.json
reference).  When both files carry comparable anchors against the SAME
reference, ratio = new.era_ratio / old.era_ratio.  When the OLD file
predates anchors (r9 and earlier), the probe query itself (default
q1_pricing_summary) serves as an implicit anchor: ratio = new probe best /
old probe best, valid only while its plan_sha is unchanged.

Shas recorded before the round-4 context-free fingerprint fix are not
comparable across contexts; treat PLAN-CHANGED vs pre-r4 files with
suspicion (see ROUND_NOTES.md round-4 addendum).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def load(path: str) -> tuple[dict, dict, dict | None]:
    """Returns (timings, details, anchor) from any of the accepted shapes."""
    text = open(path).read()
    timings, details, anchor = {}, {}, None

    def absorb(obj: dict) -> None:
        nonlocal timings, details, anchor
        if "queries" in obj:
            timings = obj["queries"]
        if "details" in obj:
            details = obj["details"]
        host = obj.get("host") or {}
        if isinstance(host, dict) and host.get("anchor"):
            anchor = host["anchor"]

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
                return timings, details, anchor
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
    return timings, details, anchor


def era_ratio(
    old_t: dict,
    new_t: dict,
    old_d: dict,
    new_d: dict,
    old_a: dict | None,
    new_a: dict | None,
    probe: str,
) -> tuple[float | None, str]:
    """(new-era / old-era) speed ratio plus a provenance string."""
    if (
        old_a
        and new_a
        and old_a.get("comparable")
        and new_a.get("comparable")
        and old_a.get("ref") == new_a.get("ref")
    ):
        return (
            new_a["era_ratio"] / old_a["era_ratio"],
            f"anchor blocks (probe {new_a.get('probe')})",
        )
    osha = (old_d.get(probe) or {}).get("plan_sha")
    nsha = (new_d.get(probe) or {}).get("plan_sha")
    if probe in old_t and probe in new_t and osha and osha == nsha:
        return (
            new_t[probe] / old_t[probe],
            f"implicit probe {probe} (old file has no anchor)",
        )
    if probe in old_t and probe in new_t and nsha and not osha:
        # pre-r10 driver BENCH files carry only a tail-truncated details
        # map, so the OLD probe sha is unknowable from the artifact; the
        # committed anchor file pins what the probe's sha has been, so a
        # NEW sha matching it says the plan is the long-stable one
        try:
            with open(os.path.join(REPO, "BENCH_ANCHOR.json")) as f:
                anchor_file = json.load(f)
            if anchor_file.get("plan_sha") == nsha:
                return (
                    new_t[probe] / old_t[probe],
                    f"implicit probe {probe}, old sha unknown (truncated "
                    "pre-r10 details) but new sha matches the committed "
                    "anchor pin",
                )
        except Exception:
            pass
    return None, "none available (no shared anchor, probe missing or plan-changed)"


def main() -> int:
    from bench import classify  # the one ladder bench.py also stamps

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 0.15
    probe = "q1_pricing_summary"
    for a in sys.argv[1:]:
        if a.startswith("--threshold="):
            thr = float(a.split("=", 1)[1])
        elif a.startswith("--probe="):
            probe = a.split("=", 1)[1]
    old_t, old_d, old_a = load(args[0])
    new_t, new_d, new_a = load(args[1])
    for path, t in ((args[0], old_t), (args[1], new_t)):
        if not t:
            print(f"no parseable headline queries in {path} (truncated"
                  " pre-r4 capture?)")
            return 1
    era, era_src = era_ratio(old_t, new_t, old_d, new_d, old_a, new_a, probe)
    print(f"era ratio: {era:.3f} via {era_src}" if era else f"era ratio: {era_src}")
    common = sorted(set(old_t) & set(new_t))
    total_o = total_n = 0.0
    counts: dict[str, int] = {}
    print(f"{'query':40s} {'old':>7s} {'new':>7s} {'delta':>7s}  class")
    for q in common:
        ot, nt = old_t[q], new_t[q]
        total_o += ot
        total_n += nt
        cls = classify(old_d.get(q), new_d.get(q), ot, nt, thr, era)
        counts[cls] = counts.get(cls, 0) + 1
        print(f"{q:40s} {ot:7.2f} {nt:7.2f} {nt - ot:+7.2f}  {cls}")
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
