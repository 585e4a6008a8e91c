"""Runs a workload once per seed and reports, for each end-to-end metric,
the median and the spread (inter-quartile range over the median) of its
values, and whether the spread is within the metric's bound; or compares
saved sets of such runs.

    python3 perfbench/repeat.py --workload registry --seeds 1-10 [--save a.json]
    python3 perfbench/repeat.py --compare a.json b.json [c.json ...]

--save keeps the values. --compare checks every pair of saved sets by
the rule that decides whether two sets of runs of the same code agree
(benchstats.agree): each spread within the bound, and neither median
worse than the other by more than the bound.
"""
import argparse
import itertools
import json
import subprocess
import sys
from pathlib import Path

import benchstats as bs

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def verdict(sp, bound):
    return "ok" if sp <= bound / 3 else "WIDE" if sp > bound else "over a third"


def run_set(spec, workload, seed_list):
    values = {}
    for seed in seed_list:
        cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: {result['failed']} of {result['attempted']} operations failed")
        record = json.loads((ROOT / ".bench_runs" / f"{workload}-s{seed}-t0.json").read_text())
        for k, v in record["end_to_end"].items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    return values


def compare(gated, files):
    sets = [json.loads(Path(f).read_text()) for f in files]
    for k, m in gated.items():
        bound = m["bound"]
        meds = " ".join(f"{bs.median(s[k]):.4g}" for s in sets)
        sps = " ".join(f"{bs.spread(s[k]):.3f}" for s in sets)
        print(f"{k:16s} bound {bound}  medians {meds}  spreads {sps}")
        for (i, a), (j, b) in itertools.combinations(enumerate(sets), 2):
            lo, hi = sorted([bs.median(a[k]), bs.median(b[k])])
            print(f"  {files[i]} vs {files[j]}: medians differ by {hi / lo - 1:.3f}  "
                  f"{'agree' if bs.agree(a[k], b[k], bound) else 'DISAGREE'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs="+")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    gated = {m["name"]: m for m in spec["end_to_end"]}
    if args.compare:
        if len(args.compare) < 2:
            sys.exit("--compare needs at least two saved sets")
        compare(gated, args.compare)
        return
    if not args.workload or len(seeds(args.seeds)) < 2:
        sys.exit("need --workload and at least two seeds for a spread")
    values = run_set(spec, args.workload, seeds(args.seeds))
    if args.save:
        Path(args.save).write_text(json.dumps(values))
    for k in values:
        sp = bs.spread(values[k])
        line = f"{k:16s} median {bs.median(values[k]):10.4g}  spread {sp:6.3f}"
        if k in gated:
            line += f"  bound {gated[k]['bound']}  {verdict(sp, gated[k]['bound'])}"
        print(line)


if __name__ == "__main__":
    main()
