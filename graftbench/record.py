#!/usr/bin/env python3
"""Records expected.json: every query's result fingerprint on the generated data,
and the per-workload panels that runs measure.

    python3 graftbench/record.py        (from the root of the checkout)

All queries run in one session at the machine's core count and again at one
core fewer; a query is eligible for a panel only if its fingerprint is stable
within a session and equal across both core counts. A panel takes one eligible
query from each of PANEL_SIZE strata of the pool ordered by warm latency, so it
spans the pool's range of cost. Re-record only when graft's query outputs
change on purpose.
"""
import json
import os
import shutil
import statistics

import build
import datagen
import run
import workload

# Odd sizes: with whole passes every query has the same weight, so the median
# falls inside one query's latencies instead of between two.
PANEL_SIZE = {"dashboard": 7}


def record(classpath, archive, root, cpus):
    run_dir = os.path.join(root, ".bench_build", "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = os.path.join(run_dir, "data")
    datagen.generate(data)
    try:
        return run.launch(classpath, run_dir, [
            "--workload", "record", "--mode", "record", "--seed", "0", "--data", data,
            "--cpus", str(cpus)], archive, timeout=3600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def panel(pool, size):
    """One query per stratum of the pool sorted by warm time: the stratum's middle."""
    ranked = sorted(pool, key=lambda kv: kv[1])
    picks = []
    for i in range(size):
        stratum = ranked[i * len(ranked) // size:(i + 1) * len(ranked) // size]
        picks.append(stratum[len(stratum) // 2][0])
    return sorted(picks)


def main():
    root = os.getcwd()
    classpath, archive = build.build(root)
    cpus = os.cpu_count()
    a = record(classpath, archive, root, cpus)
    b = record(classpath, archive, root, max(cpus - 1, 1))
    out = {"queries": {}, "panels": {}}
    for w in workload.POOLS:
        pool = sorted(n for n in a if workload.pool_of(n) == w)
        eligible = []
        for n in pool:
            ok = a[n]["stable"] and b[n]["stable"] and a[n]["fingerprint"] == b[n]["fingerprint"]
            out["queries"][n] = {"pool": w, "fingerprint": a[n]["fingerprint"],
                                 "eligible": ok, "warm_ms": round(a[n]["warm_ms"], 1)}
            if ok and not a[n]["fingerprint"].startswith("error"):
                eligible.append((n, a[n]["warm_ms"]))
        if w in PANEL_SIZE:
            out["panels"][w] = panel(eligible, PANEL_SIZE[w])
        print(w, len(pool), "eligible", len(eligible), "median warm ms",
              statistics.median(ms for _, ms in eligible), out["panels"].get(w))
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
