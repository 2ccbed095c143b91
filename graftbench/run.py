#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It builds graft and the benchmark
(graftbench/build.py), generates the seeded inputs (graftbench/data.py),
runs the workload in one JVM as a closed loop with one client on
local[<nproc>], checks every output, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, from
listeners and spans the benchmark registers. The line before it is a
JSON report (host facts, sample counts, per-round drift). The full record
of each run is kept in .bench_build/results/ for graftbench/diff.py.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import data  # noqa: E402

WORKLOADS = ["interactive", "graph_olap"]
HEAP = "3g"
JVM_TIMEOUT_S = 160


def _die_with_parent():
    """Child-side: get SIGKILL when this process dies (Linux prctl)."""
    try:
        import ctypes
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)
    except OSError:
        pass


def fail(msg, code=2):
    sys.stderr.write(f"graftbench: {msg}\n")
    sys.exit(code)


def tail(values):
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    beyond it: (value, percentile, samples beyond)."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        beyond = n * (1 - p / 100)
        if beyond >= 10:
            k = (n - 1) * p / 100
            lo = math.floor(k)
            hi = min(lo + 1, n - 1)
            v = xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
            return v, p, sum(1 for x in xs if x > v)
    return max(xs), 100, 0


def duck_check(data_dir, checks_path):
    """Run each distinct (query, parameters) oracle in DuckDB; return the
    op indices whose result differs, and the number of checks. Rows are
    compared with the repo's own oracle comparator."""
    import duckdb
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    from check_oracle import canon
    with open(checks_path) as fh:
        checks = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    bad, notes = [], []
    for ch in checks:
        try:
            rel = con.sql(ch["sql"])
            ok = (sorted(rel.columns) == sorted(ch["columns"]) and
                  canon(rel.fetchall(), rel.columns) ==
                  canon(ch["rows"], ch["columns"]))
        except Exception as e:  # an oracle that cannot run is a failure
            ok = False
            notes.append(f"{ch['key']}: {str(e)[:120]}")
        if not ok:
            bad.extend(ch["ops"])
            notes.append(f"mismatch {ch['key']}")
    return bad, len(checks), notes[:10]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {WORKLOADS}")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft)")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or commit

    t_build = time.time()
    classpath = build.build(root)
    build_s = time.time() - t_build

    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    data.generate(data_dir, a.seed)
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    cores = os.cpu_count() or 1
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.callstack.depth=200",
            "-Dderby.system.home=" + tmp]
           + opens + ["-cp", classpath, "graftbench.Main",
                      "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data_dir, "--out", out, "--cores", str(cores)])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=run_dir, preexec_fn=_die_with_parent)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish in {JVM_TIMEOUT_S} s; see {log}", 1)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"JVM exited with {rc}; see {log}", 1)
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)

    samples = res["samples"]
    bad = {s["i"] for s in samples if s["error"]}
    notes = [f"{s['name']}: {s['error']}" for s in samples if s["error"]][:10]
    n_checks = 0
    if a.workload == "interactive":
        dbad, n_checks, dnotes = duck_check(data_dir,
                                            os.path.join(out, "checks.json"))
        bad |= set(dbad)
        notes += dnotes
    attempted = len(samples) + res["extra_attempted"]
    failed = len(bad) + res["extra_failed"]

    ms = [s["ms"] for s in samples]
    cpu = [s["cpu_ms"] for s in samples]
    tail_v, tail_p, tail_n = tail(ms)
    rep = res["report"]
    probe_ms = statistics.median(res["host"]["probe_ms"])
    e2e = {
        "setup_s": statistics.median(res["setup"]["rep_cpu_s"]),
        "op_cpu_mean_ms": statistics.fmean(cpu),
        "op_cpu_p50_ms": statistics.median(cpu),
        "setup_wall_s": statistics.median(res["setup"]["rep_s"]),
        "op_p50_ms": statistics.median(ms),
        "op_mean_ms": statistics.fmean(ms),
        "op_tail_ms": tail_v,
        "peak_rss_mb": res["jvm"]["peak_rss_mb"],
    }
    classes, cpus = {}, {}
    for s in samples:
        classes.setdefault(s["cls"], []).append(s["ms"])
        cpus.setdefault(s["cls"], []).append(s["cpu_ms"])
    rounds = {}
    for s in samples:
        r = rounds.setdefault(s["round"], {})
        r[s["cls"]] = r.get(s["cls"], 0.0) + s["ms"]
    class_stats = {}
    for c, xs in classes.items():
        tv, tp, tn = tail(xs)
        class_stats[c] = {"n": len(xs), "p50_ms": statistics.median(xs),
                          "cpu_p50_ms": statistics.median(cpus[c]),
                          "tail_ms": tv, "tail_pct": tp, "tail_beyond": tn}
    per_layer = {}
    if a.trace:
        per_layer = dict(res["per_layer"])
        per_layer["store.build_s"] = statistics.median(res["setup"]["store_s"])
        per_layer["jvm.gc_ms"] = res["jvm"]["gc_ms"]
        per_layer["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
        per_layer["jvm.peak_rss_mb"] = res["jvm"]["peak_rss_mb"]
        for c in ["short_read", "traverse", "complex_read", "write",
                  "read_after_write"]:
            per_layer[f"class.{c}_p50_ms"] = class_stats.get(c, {}).get("p50_ms", 0.0)
            per_layer[f"class.{c}_cpu_p50_ms"] = class_stats.get(c, {}).get("cpu_p50_ms", 0.0)
        for c in ["olap_monotone", "olap_full_send"]:
            passes = [r[c] / 1e3 for r in rounds.values() if c in r]
            per_layer[f"class.{c}_pass_s"] = statistics.median(passes) if passes else 0.0
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = per_layer if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing and not a.trace:
        fail(f"metrics not produced: {missing}", 1)
    # a layer the workload does not exercise reads 0 in the traced run
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}

    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": dict({k: v for k, v in res["host"].items() if k != "probe_ms"},
                     probe_median_ms=probe_ms, commit=commit,
                     data_dir=os.path.relpath(data_dir, root), heap=HEAP),
        "sizes": rep.get("sizes"), "build_s": build_s,
        "setup": res["setup"], "window_s": res["window_s"],
        "rounds": res["rounds"], "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted, "duckdb_checks": n_checks,
        "failures": notes,
        "op_tail": {"ms": tail_v, "pct": tail_p, "beyond": tail_n,
                    "n": len(ms)},
        "classes": class_stats,
        "round_ms": {str(k): v for k, v in sorted(rounds.items())},
        "jvm": res["jvm"],
        "end_to_end": e2e,
        "probe_median_ms": probe_ms,
        "layers_not_exercised": missing,
    }
    for k in ["space_sizes", "final_check"]:
        if k in rep:
            report[k] = rep[k]
    full = dict(report, per_layer=per_layer, samples=samples,
                storage_series=res["storage_series"])
    results = os.path.join(root, ".bench_build", "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{a.workload}-seed{a.seed}")
    if a.trace and os.path.exists(base + "-trace0.json"):
        with open(base + "-trace0.json") as fh:
            plain = json.load(fh)["end_to_end"]
        report["trace_overhead"] = {k: e2e[k] - plain[k] for k in e2e}
        full["trace_overhead"] = report["trace_overhead"]
    with open(f"{base}-trace{a.trace}.json", "w") as fh:
        json.dump(full, fh)
    if a.trace:
        shutil.copy(os.path.join(out, "spans.jsonl"),
                    f"{base}-trace1.spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
