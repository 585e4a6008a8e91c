#!/usr/bin/env python3
"""Cross-round bench movers report.

Diffs two bench artifacts (graft.Bench JSON: either a raw
target/bench.json / BENCH_FULL.json / BENCH_LOCAL.json line or a
BENCH_r{N}.json wrapper whose `parsed` — or, failing that, the last
JSON object in `tail` — carries the same schema) and lists the
per-query median movers beyond a ratio threshold, OLD -> NEW.

Usage:
  python3 tools/bench_diff.py OLD.json NEW.json [--threshold 1.5] [--min-sec 0.2]

Exit code 1 when any mover exceeds the threshold in either direction
(slower OR faster — a 3x "win" is usually a fixture change, worth the
same look). Queries present on only one side are listed but don't fail
the gate. A sweep that flagged itself `contended` (sentinel verdict) is
annotated, and its movers are advisory: the report exits 0.
"""
import argparse
import json
import re
import sys


def load_doc(path):
    """Raw bench document (BENCH_r{N}.json wrappers unwrapped)."""
    with open(path) as f:
        doc = json.load(f)
    # driver wrapper: {"n":..,"tail":..,"parsed":{...}}
    if "queries" not in doc and "tail" in doc:
        if isinstance(doc.get("parsed"), dict) and "queries" in doc["parsed"]:
            doc = doc["parsed"]
        else:
            # salvage: last parseable {"metric":...} object in the tail
            tail = doc.get("tail", "")
            decoder = json.JSONDecoder()
            for m in reversed([m.start() for m in re.finditer(r'\{"metric"', tail)]):
                try:
                    cand, _ = decoder.raw_decode(tail[m:])
                    if "queries" in cand:
                        doc = cand
                        break
                except json.JSONDecodeError:
                    continue
    if "queries" not in doc:
        sys.exit(f"error: no query map found in {path}")
    return doc


def load(path):
    doc = load_doc(path)
    queries = {k: float(v) for k, v in doc["queries"].items() if float(v) >= 0}
    sentinel = doc.get("sentinel", {})
    contended = bool(doc.get("contended", sentinel.get("contended", False)))
    return queries, contended


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--min-sec", type=float, default=0.2,
                    help="ignore movers whose BOTH sides are below this "
                         "(sub-200ms timings are scheduler noise)")
    args = ap.parse_args()

    old, old_cont = load(args.old)
    new, new_cont = load(args.new)

    common = sorted(set(old) & set(new))
    movers = []
    for name in common:
        o, n = old[name], new[name]
        if max(o, n) < args.min_sec:
            continue
        ratio = n / o if o > 0 else float("inf")
        if ratio > args.threshold or ratio < 1 / args.threshold:
            movers.append((ratio, name, o, n))
    movers.sort(reverse=True)

    print(f"old: {args.old} ({len(old)} queries"
          f"{', CONTENDED' if old_cont else ''})")
    print(f"new: {args.new} ({len(new)} queries"
          f"{', CONTENDED' if new_cont else ''})")
    total_o = sum(old[q] for q in common)
    total_n = sum(new[q] for q in common)
    if common and total_o > 0:
        print(f"common {len(common)} queries: {total_o:.1f}s -> {total_n:.1f}s "
              f"({total_n / total_o:.2f}x)")
    elif common:
        print(f"common {len(common)} queries: {total_o:.1f}s -> {total_n:.1f}s "
              "(old total is 0 — ratio undefined)")
    else:
        print("no common queries")
    for name in sorted(set(new) - set(old)):
        print(f"  new-only: {name} {new[name]:.2f}s")
    for name in sorted(set(old) - set(new)):
        print(f"  dropped:  {name} (was {old[name]:.2f}s)")
    if not movers:
        print(f"no movers beyond {args.threshold}x (min {args.min_sec}s)")
        return 0
    print(f"\n{len(movers)} movers beyond {args.threshold}x "
          "(re-median these before believing them):")
    for ratio, name, o, n in movers:
        print(f"  {ratio:5.2f}x  {name}: {o:.2f}s -> {n:.2f}s")
    if old_cont or new_cont:
        print("NOTE: a contended sweep is involved — movers are advisory")
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
