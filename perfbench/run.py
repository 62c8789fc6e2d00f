#!/usr/bin/env python3
"""The graft benchmark.

    python3 perfbench/run.py --workload floor_sf01 --seed 20240101 --seconds 5 --trace 0

Generates the workload's inputs from the seed (gen.py), builds the
library with the benchmark's JVM side (build.py), runs the workload in
one JVM against the library's public entry points (src/graft/perfbench/
Main.scala), checks every output (oracle.py for registry keys; row
count, bid/ask/ts checksums and a time-travel count for the lake), and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones of BENCHMARK.json (a layer a workload does not touch
reads 0).  `--workload all` runs every workload in turn and prints one
such line each.  A self-describing record of each run, and with tracing
its spans, go to `.bench_results/`.  Warehouse, gold tables and dumps
live under `.bench_tmp/`, removed on every exit path.
"""
import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import build
import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
WL = CONFIG["workloads"]
COMMIT_OPS = {"catalog_create", "catalog_append", "catalog_overwrite", "catalog_upsert", "catalog_compact"}
# one run, after the build, stays under 180 s: the JVM is stopped when
# it would leave less than ORACLE_RESERVE_S for the output checks
RUN_BUDGET_S = 172
ORACLE_RESERVE_S = 15
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# Program knobs (SPARK_GRAFT_* and the GRAFT_* diagnostics) stay at their
# defaults: they are recorded in the result, and removed from the JVM's
# environment rather than passed through.
KNOB_PREFIXES = ("SPARK_GRAFT_", "GRAFT_")


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def hd_quantile(values, q):
    """Harrell-Davis estimate of the q-quantile: a beta-weighted mean of
    every order statistic, so it moves smoothly when operations of
    different cost swap ranks between runs."""
    x = sorted(values)
    n = len(x)
    if n == 1:
        return x[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64
    w = []
    for i in range(n):
        h = 1.0 / (n * steps)
        ts = (i / n + (j + 0.5) * h for j in range(steps))
        w.append(h * sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t) - lbeta) for t in ts))
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def tail_at(values):
    """The highest percentile with at least 10 samples beyond it (never
    below the median, so with fewer than 21 samples it is the median):
    its estimate, the percentile and the sample count."""
    n = len(values)
    q = max(0.5, (n - 11) / (n - 1)) if n > 1 else 0.5
    return hd_quantile(values, q), 100.0 * q, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def git_state():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None, None
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
        dirty = bool(subprocess.run(["git", "-C", ROOT, "status", "--porcelain"], capture_output=True,
                                    text=True, timeout=10).stdout.strip())
        return sha, dirty
    except (OSError, subprocess.SubprocessError):
        return None, None


def per_layer(res, spec, inputs_rec, names):
    """Per-layer metrics: per-pass means over the traced passes."""
    m = dict.fromkeys(names, 0.0)
    traced = [p["pass"] for p in res["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    ops = [o for o in res["ops"] if o["pass"] in traced]
    n = max(1, len(traced))
    sums = {}
    for o in ops:
        for k, v in o["layers"].items():
            sums[k] = sums.get(k, 0.0) + v
    for k, v in sums.items():
        if k.startswith("self."):
            k = "self." + k[5:].replace(".", "_") + "_s"
        if k in m:
            m[k] = v / n
    parts = res["setup_parts"]
    for k in parts[0]:
        if k in m:
            m[k] = median([p[k] for p in parts])
    m["session.create_s"] = parts[0]["session.create_s"]
    keys = spec["keys"]
    consumers = {k for ks in spec.get("fixture_consumers", {}).values() for k in ks}
    m["fixtures.consumer_share"] = len(consumers & set(keys)) / len(keys) if keys else 0.0

    walls = {}
    for o in ops:
        walls.setdefault(o["name"], []).append(o["wall_s"])
    total_wall = sum(o["wall_s"] for o in ops) / n
    m["registry.build_s"] = sum(o["layers"].get("phase.build_s", 0.0) for o in ops) / n
    m["catalyst.plan_s"] = sum(o["layers"].get("phase.plan_s", 0.0) for o in ops) / n
    m["exec.wall_s"] = sum(o["layers"].get("phase.exec_s", 0.0) for o in ops) / n
    m["ckptgc.sweep_s"] = sum(o["layers"].get("phase.sweep_s", 0.0) for o in ops) / n
    cores = res["env"]["cores"]
    m["exec.core_busy_share"] = m["exec.executor_run_s"] / (total_wall * cores) if total_wall else 0.0
    batches = res["batch_ms"]
    if batches:
        m["streaming.batch_p50_ms"] = hd_quantile(batches, 0.5)
        m["streaming.batch_tail_ms"] = tail_at(batches)[0]
    if spec["mode"] == "ingest":
        def mean_of(name):
            return sum(walls.get(name, [0.0])) / n
        for op, metric in (("csv_read", "sources.csv_read_s"), ("gold_write", "sources.gold_write_s"),
                           ("gold_readdir", "sources.gold_readdir_s"), ("catalog_create", "catalog.create_s"),
                           ("catalog_append", "catalog.append_s"), ("catalog_overwrite", "catalog.overwrite_s"),
                           ("catalog_upsert", "catalog.upsert_s"), ("catalog_compact", "catalog.compact_s"),
                           ("catalog_orphan_gc", "catalog.orphan_gc_s"), ("catalog_read_back", "catalog.read_back_s")):
            m[metric] = mean_of(op)
        commits = [o["wall_s"] for o in ops if o["name"] in COMMIT_OPS]
        m["catalog.commit_p50_s"] = median(commits)
        ticks = inputs_rec["rows"]["events"]
        m["ingest.ticks_per_s"] = ticks / m["sources.gold_write_s"] if m["sources.gold_write_s"] else 0.0
        m["ingest.bytes_per_tick"] = res["checks"].get("gold_bytes", 0.0) / ticks
    for k in ("gc_s", "gc_count", "metaspace_mb", "heap_peak_mb"):
        m[f"jvm.{k}"] = res["jvm"][k]
    t = [p["wall_s"] for p in res["passes"] if p["traced"]]
    m["trace.pass_traced_s"] = median(t)
    m["trace.pass_untraced_s"] = median(untraced)
    m["trace.overhead_s"] = median(t) - median(untraced) if t and untraced else 0.0
    m["trace.self_err_max"] = res["self_err_max"]
    return m


def ingest_expect(data_dir):
    """Row count and checksums of the tape the CSV tree was written from."""
    t = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=["ts", "value"])
    ts = t.column("ts").to_numpy().astype("datetime64[ms]").astype(np.int64)
    bid = t.column("value").to_numpy()
    day = (ts // 86_400_000) - (np.datetime64("2024-01-01", "ms").astype(np.int64) // 86_400_000) + 1
    return {"rows": float(len(bid)),
            "bid_cents": float(np.round(bid * 100).astype(np.int64).sum()),
            "ask_micros": float(np.round((bid * 1.0002 + 0.01) * 1e6).astype(np.int64).sum()),
            "ts_millis": float(ts.sum()),
            "asof0_rows": float((day <= 15).sum()),
            "readdir_rows": float(len(bid))}


def run_one(args, wl, classes, units, jvm_procs):
    deadline = time.time() + RUN_BUDGET_S
    spec = WL[wl]
    t_gen = time.time()
    data_dir, inputs_rec = gen.inputs(os.path.join(ROOT, ".bench_inputs"), args.seed, spec["scale"])
    t_gen = time.time() - t_gen
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    tmp = os.path.join(ROOT, ".bench_tmp", f"{wl}-{os.getpid()}-{stamp}")
    os.makedirs(tmp)
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{stamp}-{wl}-s{args.seed}-t{args.trace}")
    try:
        out = os.path.join(tmp, "result.json")
        dump = os.path.join(tmp, "dump")
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
                "graft.perfbench.Main", "--mode", spec["mode"], "--data", data_dir, "--tmp", tmp,
                "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--warm-pass", "1" if spec["warm_pass"] else "0"])
        if spec["keys"]:
            cmd += ["--keys", ",".join(spec["keys"]), "--dump", dump]
        if spec["fixtures"]:
            cmd += ["--fixtures", ",".join(spec["fixtures"])]
        if args.trace:
            cmd += ["--spans", base + ".spans.jsonl"]
        jlog = open(os.path.join(tmp, "jvm.log"), "w")
        env = {k: v for k, v in os.environ.items() if not k.startswith(KNOB_PREFIXES)}
        p = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=tmp, env=env,
                             start_new_session=True)
        jvm_procs.append(p)
        try:
            rc = p.wait(timeout=max(1.0, deadline - ORACLE_RESERVE_S - time.time()))
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            jvm_procs.remove(p)
            jlog.close()
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(tmp, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise RuntimeError(f"JVM exited with {rc}")
        res = json.load(open(out))

        errors = {o["name"]: o["error"] for o in res["warm_ops"] + res["ops"] if o["error"]}
        checks = {}
        if spec["mode"] == "keys":
            t_or = time.time()
            checks = oracle.check(data_dir, dump, spec["keys"])
            log(f"oracle {sum(c['ok'] for c in checks.values())}/{len(checks)} ok "
                f"in {time.time() - t_or:.1f} s")
            bad = {k: c["reason"] for k, c in checks.items() if not c["ok"]}
        else:
            exp = ingest_expect(data_dir)
            bad = {}
            for label, got in (("first pass", res["checks"]), ("last pass", res["checks_last"])):
                for k, v in exp.items():
                    if got.get(k) != v:
                        bad[f"{label}:{k}"] = f"got {got.get(k)} expected {v}"
            checks = {"expected": exp, "first_pass": res["checks"], "last_pass": res["checks_last"]}
        for k, r in bad.items():
            log(f"MISMATCH {k}: {r}")
        for k, e in errors.items():
            log(f"FAILED {k}: {e}")

        attempted = len(res["warm_ops"]) + len(res["ops"])
        failed = len(set(errors) | set(bad))
        op_walls = [o["wall_s"] for o in res["ops"]]
        pass_walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
        tail, tail_pct, tail_n = tail_at(op_walls)
        e2e = {"setup_s": (median(res["setup_s"]), "s"),
               "pass_s": (median(pass_walls), "s"),
               "op_p50_s": (hd_quantile(op_walls, 0.5), "s"),
               "op_tail_s": (tail, "s")}
        trace_ok = True
        if args.trace:
            layer = per_layer(res, spec, inputs_rec, list(units))
            trace_ok = layer["trace.self_err_max"] <= 0.05
            if not trace_ok:
                log(f"trace self times miss op wall by {layer['trace.self_err_max']:.3f}")
            layer["fail_ratio"] = failed / attempted
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items() if k in units}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        correct = failed == 0 and trace_ok
        sha, dirty = git_state()
        record = {
            "workload": wl, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
            "timestamp": stamp, "git_sha": sha, "git_dirty": dirty,
            "source_hash": os.path.basename(os.path.dirname(classes)),
            "nproc": os.cpu_count(), "env": res["env"],
            "knobs_in_caller_env": {k: v for k, v in os.environ.items() if k.startswith(KNOB_PREFIXES)},
            "python": platform.python_version(), "loop": CONFIG["loop"],
            "inputs": {"rows": inputs_rec["rows"], "bytes": inputs_rec["bytes"],
                       "checksum": inputs_rec["checksum"], "generate_s": t_gen},
            "op_tail": {"value": tail, "percentile": tail_pct, "samples": tail_n},
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "fail_ratio": failed / attempted, "attempted": attempted, "failed": failed,
            "errors": errors, "mismatches": bad, "checks": checks,
            "setup_samples_s": res["setup_s"], "setup_parts": res["setup_parts"],
            "passes": res["passes"], "ops": res["ops"], "warm_ops": res["warm_ops"],
            "metrics": metrics,
        }
        with open(base + ".json", "w") as f:
            json.dump(record, f, indent=1)
        log(f"{wl} seed={args.seed}: " + ", ".join(f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items()) +
            f"; op_tail at p{tail_pct:.0f} of {tail_n}; fail_ratio={failed / attempted:.4f}")
        return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    lib = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not os.path.exists(lib) or not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        log("library sources or BENCHMARK.json not found: run from a checkout of the repository")
        return 2
    bm = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in bm["per_layer"]}
    if args.seed is None:
        args.seed = CONFIG["default_seed"]
    if args.seconds is None:
        args.seconds = bm["run_seconds"]
    names = list(WL) if args.workload == "all" else [args.workload]
    if any(n not in WL for n in names):
        log(f"unknown workload {args.workload}; known: {', '.join(WL)}")
        return 2

    classes = build.build()
    jvm_procs = []

    def on_term(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)
    try:
        lines = [run_one(args, wl, classes, units, jvm_procs) for wl in names]
    finally:
        for p in jvm_procs:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(os.path.join(ROOT, ".bench_tmp"), ignore_errors=True)
    for wl, line in zip(names, lines):
        if len(names) > 1:
            print(f"# {wl}")
            for k, v in line["metrics"].items():
                print(f"#   {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
