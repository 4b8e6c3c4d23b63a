#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds graft and the harness (build.py),
generates the inputs from the seed, drives graft in one JVM, checks every output
and prints one metric per line, then a JSON object as the last line. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer ones
from a traced run, whose spans and layer report are kept under .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import datagen  # noqa: E402
import workload  # noqa: E402

JVM_TIMEOUT_S = 165
# The harness JVM lives for about a minute, in which the C2 compiler never
# settles: with it, identical runs differed by 15-30% in latency. Capping
# compilation at C1 makes runs repeat within ~7%, at a lower but stable speed.
JIT = "-XX:TieredStopAtLevel=1"
END_TO_END = {"latency_p50_ms": "ms", "latency_p90_ms": "ms", "throughput_per_s": "1/s",
              "setup_s": "s"}
PER_LAYER = {
    "queries.build_ms": "ms", "queries.eager_actions": "count",
    "plans.analysis_ms": "ms", "plans.optimizer_ms": "ms", "plans.physical_ms": "ms",
    "plans.actions": "count", "codegen.compiles": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_wall_ms": "ms", "exec.driver_gap_ms": "ms", "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.task_gc_ms": "ms", "exec.parallelism": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.output_bytes": "bytes",
    "fs.read_ops": "count", "fs.write_ops": "count", "fs.list_ops": "count",
    "fs.bytes_read": "bytes", "fs.bytes_written": "bytes", "jvm.gc_ms": "ms",
    "self.queries_ms": "ms", "self.plans_ms": "ms", "self.exec_ms": "ms",
    "self.driver_ms": "ms", "tables.warm_s": "s", "tables.cached_mb": "MB",
    "retained_mb": "MB",
    "trace.coverage_pct": "%", "trace.overhead_pct": "%"}


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def launch(classpath, run_dir, args, archive, timeout=JVM_TIMEOUT_S, train=False):
    """Runs the harness JVM; returns its result dict, or exits without one. With
    `train` the JVM writes the class-data archive at exit; otherwise it maps it."""
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = (f"-XX:ArchiveClassesAtExit={archive}" if train else f"-XX:SharedArchiveFile={archive}")
    if "--trace" in args and args[args.index("--trace") + 1] == "1":
        # Traced runs count local file-system calls (CountingFileSystem).
        conf = os.path.join(run_dir, "conf")
        os.makedirs(conf, exist_ok=True)
        with open(os.path.join(conf, "core-site.xml"), "w") as f:
            f.write("<configuration><property><name>fs.file.impl</name>"
                    "<value>graftbench.CountingFileSystem</value></property></configuration>\n")
        classpath += os.pathsep + conf
    cmd = (["java", "-Xmx3g", JIT, cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + build.ADD_OPENS +
           ["-cp", classpath, "graftbench.Main", "--run", run_dir, "--out", out] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"graftbench: harness exceeded {timeout} s")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"graftbench: harness failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def train_archive(root, classpath, archive):
    """Creates the class-data archive from one untimed pass over every panel."""
    run_dir = os.path.join(root, ".bench_build", "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        datagen.generate(data)
        panels = sorted(q for ps in workload.expected()["panels"].values() for q in ps)
        launch(classpath, run_dir, ["--workload", "train", "--mode", "record", "--passes", "1",
                                    "--seed", "0", "--data", data, "--queries", ",".join(panels)],
               archive, timeout=600, train=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def p(values, q):
    """The q-th percentile (0 < q < 100) by statistics.quantiles' default method."""
    return statistics.quantiles(values, n=100)[q - 1] if len(values) > 1 else values[0]


def prepare(args, run_dir):
    """Writes this run's inputs; returns the harness arguments."""
    common = ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.workload == "pipeline":
        cfg = workload.PIPELINE
        live, backlog = workload.pipeline_events(args.seed, int(cfg["rate"] * (args.seconds + 90)))
        events = os.path.join(run_dir, "events.txt")
        with open(events, "w") as f:
            f.write(",".join(map(str, live)) + "\n" + ",".join(map(str, backlog)) + "\n")
        return common + ["--events", events, "--rate", str(cfg["rate"]),
                         "--preload", str(cfg["preload"])]
    data = os.path.join(run_dir, "data")
    datagen.generate(data)
    exp = workload.expected()
    order = os.path.join(run_dir, "order.txt")
    with open(order, "w") as f:
        for ps in workload.request_order(exp["panels"][args.workload], args.seed, 400):
            f.write(",".join(ps) + "\n")
    want = os.path.join(run_dir, "expected.tsv")
    with open(want, "w") as f:
        for name, q in sorted(exp["queries"].items()):
            f.write(f"{name}\t{q['fingerprint']}\n")
    return common + ["--data", data, "--order", order, "--expected", want]


def end_to_end(args, res):
    if args.workload == "pipeline":
        lat, tput = res["freshness_ms"], res["ingest_rows_per_s"]
    else:
        lat, tput = res["latencies_ms"], len(res["latencies_ms"]) / res["window_s"]
    return {"latency_p50_ms": statistics.median(lat), "latency_p90_ms": p(lat, 90),
            "throughput_per_s": tput, "setup_s": res["setup_s"]}, len(lat)


def _untraced_record(root):
    """Path and content of the round times of untraced pipeline runs in this checkout."""
    path = os.path.join(root, ".bench_build", "traces", "pipeline-untraced.json")
    if not os.path.exists(path):
        return path, {"latest": None, "runs": {}}
    with open(path) as f:
        return path, json.load(f)


def record_untraced_rounds(root, seed, rounds):
    path, rec = _untraced_record(root)
    rec["latest"] = str(seed)
    rec["runs"][str(seed)] = rounds
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(rec, f)


def untraced_rounds(root, seed):
    """Round times of the untraced run of `seed`, else of the latest untraced run,
    with that run's seed; ([], None) if there is none."""
    rec = _untraced_record(root)[1]
    seed = str(seed) if str(seed) in rec["runs"] else rec["latest"]
    return rec["runs"].get(seed, []), seed


def per_layer(args, res, root):
    layers = dict(res["layers"])
    layers["tables.warm_s"] = res["tables_warm_s"]
    layers["tables.cached_mb"] = res["tables_cached_mb"]
    layers["retained_mb"] = res["retained_mb"]
    if args.workload == "pipeline":
        on, (off, seed) = res["round_ms"], untraced_rounds(root, args.seed)
        basis = f"untraced run of seed {seed}" if off else "no untraced run in this checkout"
    else:
        ms, flags = res["latencies_ms"], res["traced"]
        on = [m for m, t in zip(ms, flags) if t]
        off = [m for m, t in zip(ms, flags) if not t]
        basis = "untraced passes of this run"
    layers["trace.overhead_pct"] = (100.0 * (statistics.median(on) / statistics.median(off) - 1)
                                    if on and off else 0.0)
    layers["trace.overhead_samples"] = {"traced": len(on), "untraced": len(off), "basis": basis}
    return {k: layers[k] for k in PER_LAYER}, layers


def pipeline_summary(res):
    """The pipeline's own names for what the end-to-end metrics report."""
    return {"freshness_p50_ms": statistics.median(res["freshness_ms"]),
            "freshness_p99_ms": p(res["freshness_ms"], 99),
            "ingest_rows_per_s": res["ingest_rows_per_s"],
            "gen.lag_p99_ms": p(res["gen_lag_ms"], 99),
            "store_growth_pct": res["store_growth_pct"],
            "drain_s": res["drain_s"]}


def trace_report(args, res, layers, run_dir, root):
    """Per-layer self time, coverage and overhead; kept with the spans."""
    self_ms = {k: layers[f"self.{k}_ms"] for k in ("queries", "plans", "exec", "driver")}
    report = {"workload": args.workload, "seed": args.seed,
              "traced_requests": layers["traced_requests"],
              "self_ms_per_request": self_ms,
              "coverage_pct": layers["trace.coverage_pct"],
              "coverage_below_95": layers["trace.coverage_pct"] < 95.0,
              "tracing_overhead_pct": layers["trace.overhead_pct"],
              "tracing_overhead_samples": layers["trace.overhead_samples"],
              "layers": layers}
    if args.workload == "pipeline":
        report["pipeline"] = dict(pipeline_summary(res), **{
            "catalog.merge_ms": statistics.median(layers["catalog.merge_ms"]),
            "enrich.round_ms": statistics.median(layers["enrich.round_ms"]),
            "stream.write_amp": (layers["stream.records_written"] / layers["stream.input_rows"]
                                 if layers["stream.input_rows"] else 0.0)})
        for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
                  "latest_offset_ms", "query_planning_ms"):
            xs = layers[f"stream.{k}"]
            report["pipeline"][f"stream.{k}"] = statistics.median(xs) if xs else 0.0
    dst = os.path.join(root, ".bench_build", "traces", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    shutil.copy(os.path.join(run_dir, "spans.jsonl"), dst)
    with open(os.path.join(dst, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return report, dst


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workload.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: run from the root of a graft checkout")

    t_build = time.time()
    classpath, archive = build.build(root)
    if not os.path.exists(archive):
        train_archive(root, classpath, archive)
    build_s = time.time() - t_build
    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        harness_args = prepare(args, run_dir)
        load0, cpu0 = os.getloadavg()[0], cpu_times()
        res = launch(classpath, run_dir, harness_args, archive)
        cpu1 = cpu_times()
        total = sum(cpu1) - sum(cpu0)
        steal = 100.0 * (cpu1[7] - cpu0[7]) / total if len(cpu1) > 7 and total else 0.0
        print(f"graftbench workload={args.workload} seed={args.seed} trace={args.trace} "
              f"nproc={os.cpu_count()} load_start={load0:.2f} steal_pct={steal:.2f} "
              f"build_s={build_s:.1f}")
        for fail in res["failures"]:
            print("failure " + json.dumps(fail))
        print(f"failed_frac {res['failed'] / max(res['attempted'], 1):.4f} "
              f"({res['failed']} of {res['attempted']})")
        if args.trace:
            metrics, layers = per_layer(args, res, root)
            report, where = trace_report(args, res, layers, run_dir, root)
            units = PER_LAYER
            flag = " BELOW 95%" if report["coverage_below_95"] else ""
            n = report["tracing_overhead_samples"]
            print(f"trace coverage {report['coverage_pct']:.1f}%{flag}, overhead "
                  f"{report['tracing_overhead_pct']:.1f}% ({n['traced']} traced against "
                  f"{n['untraced']} untraced requests, {n['basis']}), spans and report in "
                  f"{os.path.relpath(where, root)}")
            for k, v in sorted(report.get("pipeline", {}).items()):
                print(f"{k} {v}")
        else:
            metrics, n = end_to_end(args, res)
            units = END_TO_END
            print(f"samples {n}")
            print(f"retained_mb {res['retained_mb']:.4f} MB (held beyond set-up)")
            if args.workload == "pipeline":
                for k, v in pipeline_summary(res).items():
                    print(f"{k} {v}")
                record_untraced_rounds(root, args.seed, res["round_ms"])
        for k, v in metrics.items():
            print(f"{k} {v:.4f} {units[k]}")
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"],
                          "metrics": {k: {"value": v, "unit": units[k]}
                                      for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
