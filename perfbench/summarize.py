"""Writes the committed per-layer summary of one workload.

    python3 perfbench/summarize.py --workload wide_read --pairs 3

Runs the workload untraced and traced, alternately, on seeds 1..pairs,
and writes perfbench/results/<workload>_c<nproc>.md: the per-layer
metrics and span tree of the first traced run, and the tracing overhead
on each end-to-end metric (median traced minus median untraced; one pair
would mostly measure the host's own drift).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    if subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL).returncode != 0:
        sys.exit(f"{workload} trace={trace} failed")
    return json.loads((ROOT / ".bench_runs" / f"{workload}-s{seed}-t{trace}.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs = [(run(spec, args.workload, seed, 0), run(spec, args.workload, seed, 1))
            for seed in range(1, args.pairs + 1)]
    traced = runs[0][1]
    nproc = os.cpu_count()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    lines = [
        f"# `{args.workload}`: traced runs on a {nproc}-core host",
        "",
        f"local[{nproc}], run_seconds {spec['run_seconds']}, seeds 1-{args.pairs}. "
        f"Written by `python3 perfbench/summarize.py --workload {args.workload} --pairs {args.pairs}`.",
        "",
        f"Contention (first traced run): `{json.dumps(traced['contention'])}`",
        "",
        "## Tracing overhead",
        "",
        f"Medians over {args.pairs} untraced and {args.pairs} traced runs, run alternately.",
        "",
        "| metric | unit | untraced | traced | overhead |",
        "|---|---|---|---|---|",
    ]
    for k in traced["end_to_end"]:
        v = statistics.median(p["end_to_end"][k] for p, _ in runs)
        t = statistics.median(q["end_to_end"][k] for _, q in runs)
        lines.append(f"| {k} | {units[k]} | {v:.4g} | {t:.4g} | {t - v:+.4g} ({(t - v) / v:+.1%}) |")
    lines += ["", "Workload metrics (first untraced run): " + ", ".join(
        f"{k} = {'n/a' if v is None else f'{v:.4g}'}" for k, v in runs[0][0]["workload"].items()), "",
        "## Per-layer metrics (first traced run)", "", "| metric | unit | value |", "|---|---|---|"]
    lines += [f"| {k} | {units[k]} | {v:.4g} |" for k, v in traced["per_layer"].items()]
    lines += ["", "## Span tree (first traced run)", "",
              "Spans aggregated by name path over the whole run; self time is a span's",
              "duration minus the part its children cover.", "",
              "| path | count | total ms | self ms |", "|---|---|---|---|"]
    for path, (n, total, own) in sorted(traced["span_tree"].items()):
        lines.append(f"| `{path}` | {n} | {total / 1e6:.1f} | {own / 1e6:.1f} |")
    out = ROOT / "perfbench" / "results" / f"{args.workload}_c{nproc}.md"
    out.parent.mkdir(exist_ok=True)
    out.write_text("\n".join(lines) + "\n")
    print(out)


if __name__ == "__main__":
    main()
