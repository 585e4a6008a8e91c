"""Chooses the `registry` workload's panel of registry keys and writes
perfbench/registry_panel.json: each key with the row count its DuckDB
oracle (`oracleSql`) returns over perfbench/data/sf0.01, or null for a
key without an oracle (the benchmark then requires rows > 0).

    python3 perfbench/panel.py --measure   # rewrite registry_times.tsv first (about 10 minutes)
    python3 perfbench/panel.py             # choose the panel from registry_times.tsv

The panel follows the time mix of a full warm pass over every key
(registry_times.tsv). Keys are sorted by warm time and cut into STRATA
groups of equal total warm time; each group is represented by its
middle key. Keys slower than CAP_S are left out first: one pass of such
a key does not fit in a run.
"""
import argparse
import json
import os
import shutil
import subprocess

import duckdb

import build
import run

STRATA = 5
CAP_S = 5.0
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
DATA = run.REGISTRY_DATA
TIMES = build.ROOT / "perfbench" / "registry_times.tsv"


def measure(classes):
    work = build.ROOT / ".bench_work" / f"registry-times-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", f"-Xms{run.HEAP}", f"-Xmx{run.HEAP}", *run.ADD_OPENS,
                              "-cp", build.classpath(classes), "perfbench.RegistryTimes",
                              str(os.cpu_count()), str(DATA), str(work)],
                             check=True, stdout=subprocess.PIPE, text=True).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = [line for line in out.splitlines() if line.count("\t") == 2]
    TIMES.write_text(f"# key\tcold_s\twarm_s  (local[{os.cpu_count()}], {DATA.name})\n" + "\n".join(rows) + "\n")


def choose(warm):
    """Middle key of each of STRATA groups of equal total warm time."""
    keys = sorted((k for k, t in warm.items() if t <= CAP_S), key=lambda k: (warm[k], k))
    total = sum(warm[k] for k in keys)
    groups, cum = [[] for _ in range(STRATA)], 0.0
    for k in keys:
        groups[min(int((cum + warm[k] / 2) / total * STRATA), STRATA - 1)].append(k)
        cum += warm[k]
    return [g[len(g) // 2] for g in groups]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--measure", action="store_true")
    args = ap.parse_args()
    classes = build.build()
    if args.measure:
        measure(classes)
    warm = {}
    for line in TIMES.read_text().splitlines():
        key, _cold, w = line.split("\t")
        if not key.startswith("#") and w != "FAIL":
            warm[key] = float(w)
    panel = choose(warm)
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes), "perfbench.OracleSql", *panel],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    oracles = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    rows = {k: (None if oracles[k] is None else len(con.sql(oracles[k].replace("{SFDIR}", str(DATA))).fetchall()))
            for k in panel}
    (build.ROOT / "perfbench" / "registry_panel.json").write_text(json.dumps(rows, indent=1) + "\n")
    for k in panel:
        print(f"{k:32s} warm {warm[k]:6.3f} s  oracle rows {rows[k]}")
    print(f"panel warm pass {sum(warm[k] for k in panel):.2f} s of {sum(warm.values()):.1f} s over {len(warm)} keys; "
          f"left out above {CAP_S} s: {sorted(k for k, t in warm.items() if t > CAP_S)}")


if __name__ == "__main__":
    main()
