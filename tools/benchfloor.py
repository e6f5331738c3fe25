#!/usr/bin/env python3
"""Per-query bench floor table: generate + regression check.

The round-level gate (BASELINE.md) only bounds the TOTAL; at ~193
queries x ~1 s/query of allowance, a single line can regress 10x and
hide in the sum. This tool catches regressions BY LINE:

  # after a trusted local bench run (writes bench_queries_c<cpus>.json):
  python3 tools/benchfloor.py gen      # -> docs/BENCH_FLOORS.json

  # after any later bench run:
  python3 tools/benchfloor.py check    # flags per-line moves

A line is flagged when its new best exceeds
    flag_ratio * floor_best + abs_slack
with flag_ratio = 1.5 and abs_slack = 0.3 s (sub-second lines jitter
by scheduling noise; the r13 minhash/ngram A/B measured +/- ~1 s of
sibling-load variance on ~1-2 s lines inside the full-bench JVM, so
treat single-line flags as "run a graft.tools.Profile A/B", not
"guilty").

The bench file read is the one for SPARK_GRAFT_CPUS cores (default 4,
the core count graft.Bench runs with), so set it as for the bench run.

Dev-side only (python, no Spark); not part of the shipped library.
"""
import json
import os
import sys

FLAG_RATIO = 1.5
ABS_SLACK = 0.3  # seconds

BENCH = f"bench_queries_c{os.environ.get('SPARK_GRAFT_CPUS', '4').strip()}.json"
FLOORS = "docs/BENCH_FLOORS.json"


def gen(fresh=False):
    """Floors are per-line historical MINIMUMS: a regen run that came
    out slower (sibling load, unlucky scheduling) must not RAISE a
    line's floor, or real regressions hide behind drifted baselines
    (r17: q_dedup_prefix 5.40 -> 6.89 in one contended regen). Merge
    with min() against the existing file; --fresh overwrites (use
    after an intentional change of hardware or measurement method).
    Queries no longer in the registry are dropped; new ones enter at
    their first measurement."""
    bench = json.load(open(BENCH))
    new = {q: round(v["best"], 3)
           for q, v in sorted(bench["queries"].items())}
    merged = dict(new)
    try:
        if not fresh:
            old = json.load(open(FLOORS))["queries"]
            merged = {q: min(v, old[q]) if q in old else v
                      for q, v in new.items()}
    except (FileNotFoundError, KeyError, ValueError):
        pass  # no/corrupt prior floors: first measurement stands
    floors = {
        "sf": bench["sf"],
        "best_total": round(sum(merged.values()), 3),
        "flag_ratio": FLAG_RATIO,
        "abs_slack_sec": ABS_SLACK,
        "queries": merged,
    }
    with open(FLOORS, "w") as f:
        json.dump(floors, f, indent=1, sort_keys=True)
    kept = sum(1 for q in new if merged[q] < new[q])
    print(f"wrote {FLOORS}: {len(merged)} query floors "
          f"(floor total {floors['best_total']:.1f} s at {bench['sf']}; "
          f"{kept} lines kept their lower historical floor)")
    return 0


def check():
    bench = json.load(open(BENCH))
    floors = json.load(open(FLOORS))
    # thresholds come from the floors file (its metadata must describe
    # the gate actually applied); module constants only seed gen()
    ratio = floors.get("flag_ratio", FLAG_RATIO)
    slack = floors.get("abs_slack_sec", ABS_SLACK)
    fq, bq = floors["queries"], bench["queries"]
    flagged, improved, missing = [], [], []
    for q, floor in sorted(fq.items()):
        if q not in bq:
            missing.append(q)
            continue
        best = bq[q]["best"]
        if best > ratio * floor + slack:
            flagged.append((q, floor, best))
        elif floor > ratio * best + slack:
            improved.append((q, floor, best))
    new = sorted(set(bq) - set(fq))
    for q, floor, best in flagged:
        print(f"FLAG {q}: best {best:.2f} s vs floor {floor:.2f} s "
              f"({best / max(floor, 1e-9):.1f}x)")
    for q, floor, best in improved:
        print(f"note {q}: improved {floor:.2f} -> {best:.2f} s "
              f"(re-gen floors to lock in)")
    if missing:
        print(f"note: {len(missing)} floor queries absent from bench: "
              + ", ".join(missing[:10]))
    if new:
        print(f"note: {len(new)} new queries without floors: "
              + ", ".join(new[:10]))
    tot_f, tot_b = floors["best_total"], bench["best_total"]
    print(f"== totals: floor {tot_f:.1f} s, bench {tot_b:.1f} s; "
          f"{len(flagged)} flagged, {len(improved)} improved, "
          f"{len(new)} new ==")
    return 1 if flagged else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    fresh = "--fresh" in args
    args = [a for a in args if a != "--fresh"]
    mode = args[0] if args else "check"
    if mode not in ("gen", "check"):
        print(f"unknown mode {mode!r}: use 'gen [--fresh]' or 'check'")
        sys.exit(2)
    sys.exit(gen(fresh) if mode == "gen" else check())
