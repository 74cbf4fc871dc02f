"""Compare two BENCH_FULL-style JSON files key by key.

Usage:
    python tools/bench_diff.py OLD.json NEW.json [--factor 1.5] [--min-sec 0.5]
    python tools/bench_diff.py 'git:HEAD~1' BENCH_FULL.json   # git:<rev> reads
                                                             # the committed copy

Prints: total/common-key sums, keys regressed past --factor (ignoring
keys faster than --min-sec in the OLD run — sub-second timings are
noise-dominated even under the median protocol), keys improved past
1/--factor, and added/removed keys. Exit code 1 if any regression is
found, so a round script can gate on it.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys


def load(ref: str) -> dict:
    if ref.startswith("git:"):
        rev = ref[len("git:") :]
        out = subprocess.run(
            ["git", "show", f"{rev}:BENCH_FULL.json"],
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        d = json.loads(out)
    else:
        with open(ref) as f:
            d = json.load(f)
    # the driver's BENCH_r{N}.json wraps the bench JSON line under
    # "parsed" (older lines carry a partial "queries"; the diff then
    # covers those keys only — current lines carry totals only, so
    # diff BENCH_FULL.json revisions instead)
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    return d


def diff(old: dict, new: dict, *, factor: float, min_sec: float) -> dict:
    oq, nq = old.get("queries", {}), new.get("queries", {})
    common = sorted(set(oq) & set(nq))
    # Regression test: new > factor * max(old, min_sec). Clamping the
    # OLD side to the noise floor (instead of skipping sub-floor keys)
    # still ignores 0.2s->0.4s jitter but DOES flag 0.45s->60s — a key
    # whose old timing was noise can still regress into dominance.
    regressed = [
        (k, oq[k], nq[k]) for k in common if nq[k] > factor * max(oq[k], min_sec)
    ]
    improved = [
        (k, oq[k], nq[k])
        for k in common
        if oq[k] >= min_sec and oq[k] > factor * max(nq[k], 0.0) and nq[k] < oq[k]
    ]
    eps = 1e-9  # timings are rounded to 3 decimals and can be 0.0
    # ambient-drift context (ROUND8/9 adjudication rule): host-level
    # regimes move almost every key by a similar factor, so per-key
    # deltas are only meaningful RELATIVE to the run's median ratio —
    # a regressed row whose ratio tracks the median is ambient, not code
    big = [k for k in common if oq[k] >= min_sec]
    median_ratio = (
        round(sorted(nq[k] / oq[k] for k in big)[len(big) // 2], 3) if big else 1.0
    )
    return {
        "median_ratio": median_ratio,
        "old_total": round(sum(oq.values()), 2),
        "new_total": round(sum(nq.values()), 2),
        "common_old_sum": round(sum(oq[k] for k in common), 2),
        "common_new_sum": round(sum(nq[k] for k in common), 2),
        "regressed": sorted(regressed, key=lambda t: -(t[2] / max(t[1], eps))),
        "improved": sorted(improved, key=lambda t: -(t[1] / max(t[2], eps))),
        "added": sorted(set(nq) - set(oq)),
        "removed": sorted(set(oq) - set(nq)),
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--factor", type=float, default=1.5)
    p.add_argument("--min-sec", type=float, default=0.5)
    args = p.parse_args()
    d = diff(load(args.old), load(args.new), factor=args.factor, min_sec=args.min_sec)
    print(
        f"total: {d['old_total']} -> {d['new_total']}  "
        f"(common keys: {d['common_old_sum']} -> {d['common_new_sum']}; "
        f"median per-key ratio {d['median_ratio']} — read flagged rows "
        "relative to it)"
    )
    for label in ("regressed", "improved"):
        rows = d[label]
        print(f"{label} (> {args.factor}x, old >= {args.min_sec}s): {len(rows)}")
        for k, o, n in rows:
            print(f"  {k}: {o} -> {n}  ({n / o:.2f}x)")
    if d["added"]:
        print("added:", ", ".join(d["added"]))
    if d["removed"]:
        print("removed:", ", ".join(d["removed"]))
    return 1 if d["regressed"] else 0


if __name__ == "__main__":
    sys.exit(main())
