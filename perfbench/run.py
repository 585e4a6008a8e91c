"""Runs one benchmark workload against the graft engine and prints its metrics.

    python3 perfbench/run.py --workload wide_read --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source (perfbench/build.py), runs
the workload in one JVM at local[nproc] with a fixed heap in a fresh work
dir under .bench_work/, checks every operation's output, and prints:
the workload's own metrics with sample counts, a contention record and,
with --trace 1, the span tree and per-layer metrics. The last stdout line
is one JSON object: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. A full record of the run
is kept in .bench_runs/. perfbench/WORKLOADS.md describes the workloads.
"""
import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchstats as bs  # noqa: E402
import build  # noqa: E402

ROOT = build.ROOT
BENCH = ROOT / "perfbench"
HEAP = "3g"
TIME_LIMIT_S = 170  # a run must finish within 180 s of its start
WARM_FROM = 2  # pass 0 is cold, pass 1 lets JIT compilation settle
REGISTRY_DATA = BENCH / "data" / "sf0.01"
REGISTRY_PANEL = BENCH / "registry_panel.json"
MODULES = ["analytics", "benchops", "dedup", "similarity", "textops", "curation", "streaming", "other"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def proc_stat():
    """Aggregate CPU jiffies: (total, idle + iowait, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def contention_start():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "stat": proc_stat(), "wall": time.time(),
            "rusage": resource.getrusage(resource.RUSAGE_CHILDREN)}


def contention_end(start):
    end = contention_start()
    dt = [b - a for a, b in zip(start["stat"], end["stat"])]
    cpu = lambda r: r.ru_utime + r.ru_stime  # noqa: E731
    return {
        "nproc": os.cpu_count(),
        "wall_s": end["wall"] - start["wall"],
        "cpu_s": cpu(end["rusage"]) - cpu(start["rusage"]),
        "loadavg_start": start["loadavg"], "loadavg_end": end["loadavg"],
        "idle_frac": dt[1] / dt[0] if dt[0] else None,
        "steal_frac": dt[2] / dt[0] if dt[0] else None,
    }


def run_jvm(args, classes, work, out, log):
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           *ADD_OPENS, "-cp", build.classpath(classes),
           "perfbench.Harness", args.workload, str(args.seed), str(args.seconds), str(args.trace),
           str(os.cpu_count()), str(work), str(out)]
    if args.workload == "registry":
        cmd += [str(REGISTRY_DATA), str(REGISTRY_PANEL)]
    (work / "tmp").mkdir(parents=True)
    spawned = time.time()
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=TIME_LIMIT_S - (time.time() - args.started))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {args.workload} ran out of time; see {log}")
    if code != 0 or not out.exists():
        raise SystemExit(f"perfbench: harness exited with {code}; see {log}")
    return spawned


def kinds(ops, value, pick=lambda o: True):
    """kind -> [value(op)] over the given ops."""
    out = {}
    for o in ops:
        if pick(o):
            out.setdefault(o["kind"], []).append(value(o))
    return out


def c(o, name):
    return o["counters"].get(name, 0.0)


def work_cpu_s(o):
    """CPU-seconds of the threads doing an operation's work: the driver
    thread (planning, job submission) and every task. Thread CPU time
    leaves out time the host takes the core away, so it moves less under
    contention than wall time."""
    return (c(o, "driver.cpu_ns") + c(o, "build.cpu_ns") + c(o, "exec.cpu_ns")) / 1e9


def end_to_end(res, spawned):
    timed = [o for o in res["ops"] if o["pass"] >= 0]
    warm = [o for o in timed if o["pass"] >= WARM_FROM]
    walls = kinds(warm, lambda o: o["wall_s"])
    return {
        "setup_s": min(o["start_ms"] for o in timed) / 1e3 - spawned,
        "pass_s": bs.per_pass(walls),
        "cold_pass_s": sum(o["wall_s"] for o in timed if o["pass"] == 0),
        "geomean_ms": 1e3 * bs.geomean([bs.median(v) for v in walls.values()]),
        "pass_cpu_s": bs.per_pass(kinds(warm, work_cpu_s)),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }


def workload_metrics(res):
    """The workload's own metrics: name -> (value or None, unit, note)."""
    warm = [o for o in res["ops"] if o["pass"] >= WARM_FROM]
    out = {}

    def lat(name, kind, q, unit, scale):
        vals = [o["wall_s"] * scale for o in warm if kind is None or o["kind"] == kind]
        if q == 0.5:
            out[name] = (bs.median(vals), unit, f"median, n={len(vals)}")
        else:
            t = bs.tail(vals, q)
            out[name] = (t[0], unit, f"p{t[1]:.0f}, n={t[2]}") if t else (
                None, unit, f"n={len(vals)}: too few samples for a tail")

    if res["workload"] == "wide_read":
        lat("footer_p50_ms", "footer", 0.5, "ms", 1e3)
        lat("footer_p90_ms", "footer", 0.9, "ms", 1e3)
        lat("stats_p50_ms", "stats", 0.5, "ms", 1e3)
        lat("subset_p50_ms", "subset", 0.5, "ms", 1e3)
        lat("subset_p90_ms", "subset", 0.9, "ms", 1e3)
        lat("scan_p50_s", "scan", 0.5, "s", 1)
    elif res["workload"] == "wide_write":
        user = sum(o["extra"].get("user_bytes", 0) for o in warm)
        disk = sum(o["extra"].get("bytes", 0) for o in warm)
        wall = sum(o["wall_s"] for o in warm)
        out["write_MBps"] = (user / 1e6 / wall, "MB/s", f"n={len(warm)} writes")
        out["bytes_per_user_byte"] = (disk / user, "ratio", f"n={len(warm)} writes")
    else:
        lat("query_p50_s", None, 0.5, "s", 1)
        lat("query_p95_s", None, 0.95, "s", 1)
    return out


def layers(res):
    """Per-layer metrics of a traced run. A layer the workload does not
    exercise reads 0."""
    ops = res["ops"]
    warm = [o for o in ops if o["pass"] >= WARM_FROM]
    cpus = res["cpus"]
    is_write = lambda o: o["kind"].startswith("fixture.") or res["workload"] == "wide_write"  # noqa: E731
    writes = [o for o in ops if is_write(o) and (o["pass"] == -1 or o["pass"] >= WARM_FROM)]

    def med(kind, f):
        v = [f(o) for o in warm if o["kind"] == kind]
        return bs.median(v) if v else 0.0

    def pp(f, pool=warm):
        return bs.per_pass(kinds(pool, f))

    probes = {}
    for s in res["spans"]:
        if s[3] == "gen_probe":
            probes[s[2]] = (s[5] - s[4]) / 1e9
    gen = pp(lambda o: probes.get(o["id"], 0.0), writes)
    exec_ms = pp(lambda o: (o["wall_s"] - o["build_s"]) * 1e3)
    exec_cpu = pp(lambda o: c(o, "exec.cpu_ns")) / 1e9
    m = {
        "footer.thrift_decode_ms": med("footer", lambda o: o["extra"]["thrift_decode_ms"]),
        "footer.schema_build_ms": med("footer", lambda o: o["extra"]["schema_build_ms"]),
        "footer.job_ms": med("footer", lambda o: o["wall_s"] * 1e3 - o["extra"]["thrift_decode_ms"]
                             - o["extra"]["schema_build_ms"]),
        "stats.chunks": med("stats", lambda o: o["extra"]["chunks"]),
        "stats.ms_per_kchunk": med("stats", lambda o: o["wall_s"] * 1e6 / o["extra"]["chunks"]),
        "scan.bytes_read": med("scan", lambda o: c(o, "read_chars")),
        "scan.read_amplification": med("scan", lambda o: c(o, "read_chars") / o["extra"]["projected_bytes"]),
        "scan.cpu_s": med("scan", lambda o: c(o, "exec.cpu_ns") / 1e9),
        "scan.tasks": med("scan", lambda o: c(o, "exec.tasks")),
        "subset.bytes_read": med("subset", lambda o: c(o, "read_chars")),
        "subset.read_amplification": med("subset", lambda o: c(o, "read_chars") / o["extra"]["projected_bytes"]),
        "write.gen_s": gen,
        "write.encode_s": pp(lambda o: o["wall_s"], writes) - gen if writes else 0.0,
        "write.cpu_s": pp(lambda o: c(o, "exec.cpu_ns"), writes) / 1e9,
        "write.gc_s": pp(lambda o: c(o, "exec.gc_ms"), writes) / 1e3,
        "write.files": pp(lambda o: o["extra"].get("files", 0), writes),
        "write.row_groups": pp(lambda o: o["extra"].get("row_groups", 0), writes),
        "write.bytes": pp(lambda o: o["extra"].get("bytes", 0), writes),
        "plan.analysis_ms": pp(lambda o: c(o, "plan.analysis_ms")),
        "plan.optimization_ms": pp(lambda o: c(o, "plan.optimization_ms")),
        "plan.planning_ms": pp(lambda o: c(o, "plan.planning_ms")),
        "build.ms": pp(lambda o: o["build_s"] * 1e3),
        "build.eager_jobs": pp(lambda o: c(o, "build.jobs")),
        "ckpt.pinned": max([o["extra"].get("ckpt_pinned", 0) for o in ops] or [0]),
        "exec.ms": exec_ms,
        "exec.jobs": pp(lambda o: c(o, "exec.jobs")),
        "exec.stages": pp(lambda o: c(o, "exec.stages")),
        "exec.tasks": pp(lambda o: c(o, "exec.tasks")),
        "exec.run_s": pp(lambda o: c(o, "exec.run_ms")) / 1e3,
        "exec.cpu_s": exec_cpu,
        "exec.gc_s": pp(lambda o: c(o, "exec.gc_ms")) / 1e3,
        "exec.cpu_util": exec_cpu / (exec_ms / 1e3 * cpus) if exec_ms else 0.0,
        "exec.shuffle_write_bytes": pp(lambda o: c(o, "exec.shuffle_write_bytes")),
        "exec.shuffle_read_bytes": pp(lambda o: c(o, "exec.shuffle_read_bytes")),
        "exec.spill_bytes": pp(lambda o: c(o, "exec.spill_bytes")),
        "exec.codegen_ms": pp(lambda o: c(o, "exec.codegen_ms")),
        "stream.batches": pp(lambda o: c(o, "stream.batches")),
        "stream.commit_ms": pp(lambda o: c(o, "stream.commit_ms")),
        "jvm.gc_s": res["jvm"]["gc_s"],
        "jvm.heap_peak_mb": res["jvm"]["heap_peak_mb"],
    }
    module = res["facts"].get("modules", {})
    for mod in MODULES:
        mine = lambda o: module.get(o["kind"]) == mod  # noqa: E731
        m[f"registry.{mod}_s"] = bs.per_pass(kinds(warm, lambda o: o["wall_s"], mine))
        m[f"registry.{mod}_cold_s"] = sum(o["wall_s"] for o in ops if o["pass"] == 0 and mine(o))
    return m


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["wide_read", "wide_write", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload == "registry" and not REGISTRY_PANEL.exists():
        raise SystemExit("perfbench: registry panel missing")

    classes = build.build()
    args.started = time.time()  # the time limit covers the run, not the build
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    runs = ROOT / ".bench_runs"
    runs.mkdir(exist_ok=True)
    work = ROOT / ".bench_work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    out = runs / f"{name}.raw.json"
    out.unlink(missing_ok=True)
    before = contention_start()
    try:
        spawned = run_jvm(args, classes, work, out, runs / f"{name}.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    contention = contention_end(before)
    res = json.loads(out.read_text())

    ops = res["ops"]
    failed = [o for o in ops if o["error"]]
    e2e = end_to_end(res, spawned)
    mine = workload_metrics(res)
    mine["failed_frac"] = (bs.failed_frac(ops), "ratio", f"{len(failed)} of {len(ops)} operations")
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"local[{res['cpus']}] heap={HEAP}")
    for k, v in res["facts"].items():
        if k != "modules":
            print(f"  fixture {k}: {v}")
    for o in failed:
        print(f"  FAILED {o['kind']} (pass {o['pass']}): {o['error']}")
    print("workload metrics:")
    for k, (v, unit, note) in mine.items():
        print(f"  {k:24s} {fmt(v):>12s} {unit:6s} ({note})")
    print("end-to-end metrics:")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, v in e2e.items():
        print(f"  {k:24s} {fmt(v):>12s} {units[k]}")
    print("contention: " + json.dumps(contention))
    tree = bs.span_tree(res["spans"])
    record = {"args": {k: v for k, v in vars(args).items() if k != "started"}, "end_to_end": e2e,
              "workload": {k: v[0] for k, v in mine.items()}, "contention": contention,
              "samples": len(ops), "failed": len(failed)}
    if args.trace:
        lay = layers(res)
        record["per_layer"] = lay
        record["span_tree"] = tree
        print("span tree (path: count, total ms, self ms):")
        for path, (n, total, self_ns) in sorted(tree.items()):
            print(f"  {path:48s} {n:6d} {total / 1e6:12.1f} {self_ns / 1e6:12.1f}")
        print("per-layer metrics:")
        for k, v in lay.items():
            print(f"  {k:28s} {fmt(v):>14s}")
        metrics = {m["name"]: {"value": lay[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    (runs / f"{name}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
