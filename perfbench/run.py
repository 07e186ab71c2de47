"""transfspark benchmark: runs one workload for one seed and prints every
metric with its unit; the last line of standard output is the JSON result.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json): curate_batch, relational_batch, ingest_gate.
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
Each run builds the program if its sources changed (perfbench/build.py),
starts a fresh JVM with a fresh input, warehouse and checkpoint directory
under the build directory, checks every output after the timed region, and
exits nonzero if any check fails. The run's full record (config, per-key
or per-batch breakdown, spans) is kept under `<build dir>/records/`.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("curate_batch", "relational_batch", "ingest_gate")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
EXPECTED = os.path.join(HERE, "expected.json")
JVM_TIMEOUT_S = 160
MAX_CPUS = 4
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "throughput_per_s": "1/s",
    "heap_peak_mb": "MB",
}
KERNELS = ("minhash_shingle_sig", "simhash_sig", "winnow_select", "nfc_normalize",
           "bpe_encode", "deflate_size", "float_dot")


def heap_gb():
    """The test suite's heap clamp: half the host's memory, within 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def run_jvm(args, run_dir, record, cpus):
    cmd = ["java", f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--run-dir", run_dir, "--record", record]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM failed ({rc})")
    with open(record) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def result_fingerprint(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return stats.fingerprint(cols, cur.fetchall())


def check_batch(rec, run_dir):
    """Per-key output check: the result's fingerprint against DuckDB's
    answer to the key's oracle SQL, or against the one pinned in
    expected.json for keys without an oracle."""
    body = rec["body"]
    in_dir = os.path.join(run_dir, f"input{len(rec['setup']['materialise_s']) - 1}")
    con = duck()
    for t in TABLES:
        if os.path.isdir(f"{in_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet/*.parquet')")
    pinned = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            pinned = json.load(f)
    results = {}
    for key, chk in body["checks"].items():
        if "error" in chk:
            results[key] = {"ok": False, "why": chk["error"]}
            continue
        got = result_fingerprint(con, f"SELECT * FROM read_parquet('{chk['path']}/*.parquet')")
        sql = body["oracle_sql"].get(key)
        if sql is not None:
            want, source = result_fingerprint(con, sql), "duckdb"
        else:
            want, source = pinned.get(key), "pinned"
        ok = want is not None and got == want
        results[key] = {"ok": ok, "source": source, "got": got}
        if not ok:
            results[key]["want"] = want
    return results


# ---------------------------------------------------------------- metrics

def batch_metrics(rec, checks):
    body = rec["body"]
    keys = body["keys"]
    warm = body["warm"]
    pass_s = stats.median([p["wall_s"] for p in warm])
    runs = [x for p in [body["cold"]] + body["warmup"] + warm for x in p["keys"]]
    attempted, failed = stats.count_failures(x["error"] is None and checks[x["key"]]["ok"] for x in runs)
    setup = rec["setup"]
    e2e = {
        "setup_s": setup["session_s"] + stats.median(setup["materialise_s"]),
        "cold_pass_s": body["cold"]["wall_s"],
        "pass_s": pass_s,
        # one closed-loop client: its keys per second restate pass_s
        "throughput_per_s": len(keys) / pass_s,
        "heap_peak_mb": rec["heap_peak_mb"],
    }
    per_key = {k: stats.median([x["total_s"] for p in warm for x in p["keys"] if x["key"] == k])
               for k in keys}
    detail = {"warm_passes": len(warm), "per_key_warm_s": per_key,
              "per_key_cold_s": {x["key"]: x["total_s"] for x in body["cold"]["keys"]}}
    return e2e, detail, attempted, failed


def gate_metrics(rec):
    body = rec["body"]
    setup = rec["setup"]
    drain = body["drain"]
    warm = body["warmup"]
    e2e = {
        "setup_s": setup["session_s"] + stats.median(setup["materialise_s"])
        + body["index_build_s"] + sum(b["wall_s"] + b["maintain_s"] for b in warm),
        # the gate's cold pass is its warm-up: the first batches of a fresh JVM
        "cold_pass_s": sum(b["wall_s"] for b in warm),
        "pass_s": stats.median([b["wall_s"] for b in drain]),
        "throughput_per_s": sum(b["docs"] for b in drain) / sum(b["wall_s"] + b["maintain_s"] for b in drain),
        "heap_peak_mb": rec["heap_peak_mb"],
    }
    detail = {"drain_batches": len(drain), "decision_counts": body["decision_counts"],
              "wrong": body["wrong"]}
    attempted, failed = body["offered"], body["n_wrong"]
    ol = body["open_loop"]
    if ol["docs"]:
        lat = [x for x in ol["latency_s"] if x is not None]
        tail, pct, n = stats.tail(lat) if lat else (float("nan"), 100.0, 0)
        detail["open_loop"] = {
            "offered_docs_per_s": ol["offered_docs_per_s"], "docs": ol["docs"],
            "latency_p50_s": stats.median(lat) if lat else float("nan"),
            "latency_tail_s": tail, "latency_tail_pct": pct, "latency_samples": n,
            "latency_missing": ol["docs"] - len(lat), "latency_limit_s": ol["latency_limit_s"],
            "latency_limit_met": len(lat) == ol["docs"] and tail <= ol["latency_limit_s"]}
        # the open loop's tail latency limit is one more checked operation
        attempted += 1
        failed += 0 if detail["open_loop"]["latency_limit_met"] else 1
    return e2e, detail, attempted, failed


def per_layer(rec, cpus):
    """Per-layer metrics of a traced run. A layer a workload does not
    exercise reports 0: the prediction of no change."""
    body = rec["body"]
    m = {}
    zero_exec = {"jobs": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
                 "result_bytes": 0, "input_bytes": 0, "input_rows": 0, "broadcast_bytes": 0,
                 "stage_skew_max": 1.0}

    def add_exec(a, b):
        out = {k: a[k] + b[k] for k in a if k != "stage_skew_max"}
        out["stage_skew_max"] = max(a["stage_skew_max"], b["stage_skew_max"])
        return out

    streaming = dict.fromkeys(["sig_s", "probe_s", "append_s", "sink_s", "upstream_s",
                               "triggers_per_batch", "jobs_per_batch", "state_rows",
                               "doc_latency_p50_s", "doc_latency_tail_s",
                               "backlog_docs_max", "gen_late_s"], 0.0)
    index = dict.fromkeys(["files", "docs", "rebuilds", "rebuild_s", "probe_growth"], 0.0)
    if rec["workload"] == "ingest_gate":
        drain = body["drain"]
        med = lambda f: stats.median([f(b) for b in drain])  # noqa: E731
        m["operators.build_s"] = body["index_build_s"]
        m["operators.build_jobs"] = body["index_build"]["jobs"]
        m["operators.build_result_bytes"] = body["index_build"]["result_bytes"]
        m["plans.plan_s"] = med(lambda b: b.get("plan_s", 0.0))
        m["plans.plan_chars"] = med(lambda b: b.get("plan_chars", 0))
        ex = [b["exec"] for b in drain]
        exec_s = med(lambda b: b["wall_s"])
        e = {k: stats.median([x[k] for x in ex]) for k in zero_exec}
        for k in ("sig_s", "probe_s", "append_s", "sink_s"):
            streaming[k] = med(lambda b, k=k: b[k])
        streaming["upstream_s"] = med(lambda b: b["wall_s"] - b["sig_s"] - b["probe_s"] - b["append_s"] - b["sink_s"])
        streaming["triggers_per_batch"] = med(lambda b: b["triggers"])
        streaming["jobs_per_batch"] = med(lambda b: b["exec"]["jobs"])
        streaming["state_rows"] = drain[-1]["state_rows"]
        lat = [x for x in body["open_loop"]["latency_s"] if x is not None]
        streaming["doc_latency_p50_s"] = stats.median(lat)
        streaming["doc_latency_tail_s"] = stats.tail(lat)[0]
        streaming["backlog_docs_max"] = body["open_loop"]["backlog_docs_max"]
        streaming["gen_late_s"] = max(body["open_loop"]["gen_late_s"] or [0.0])
        idx = body["index"]
        index.update(files=idx["files"], docs=idx["docs"], rebuilds=idx["rebuilds"],
                     rebuild_s=idx["rebuild_s"])
        probes = [b["probe_s"] for b in drain]
        k = min(3, len(probes) // 2) or 1
        index["probe_growth"] = stats.median(probes[-k:]) / stats.median(probes[:k])
    else:
        passes = body["warm"]

        def pass_total(p, f):
            return sum(f(x) for x in p["keys"])
        med = lambda f: stats.median([pass_total(p, f) for p in passes])  # noqa: E731
        m["operators.build_s"] = med(lambda x: x["build_s"])
        m["operators.build_jobs"] = med(lambda x: x["build"]["jobs"])
        m["operators.build_result_bytes"] = med(lambda x: x["build"]["result_bytes"])
        m["plans.plan_s"] = med(lambda x: x["plan_s"])
        m["plans.plan_chars"] = med(lambda x: x["plan_chars"])
        exec_s = med(lambda x: x["execute_s"])
        totals = []
        for p in passes:
            t = dict(zero_exec)
            for x in p["keys"]:
                t = add_exec(t, x["exec"])
            totals.append(t)
        e = {k: stats.median([t[k] for t in totals]) for k in zero_exec}
        m["sources.input_bytes"] = med(lambda x: x["build"]["input_bytes"] + x["exec"]["input_bytes"])
        m["sources.input_rows"] = med(lambda x: x["build"]["input_rows"] + x["exec"]["input_rows"])
    m["exec.execute_s"] = exec_s
    for k in ("task_run_s", "task_cpu_s", "gc_s"):
        m[f"exec.{k}"] = e[k]
    m["exec.jobs"] = e["jobs"]
    m["exec.tasks"] = e["tasks"]
    m["exec.slot_busy_ratio"] = e["task_run_s"] / (cpus * exec_s) if exec_s > 0 else 0.0
    m["exec.stage_skew_max"] = e["stage_skew_max"]
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "result_bytes", "broadcast_bytes"):
        m[f"exec.{k}"] = e[k]
    if rec["workload"] == "ingest_gate":
        m["sources.input_bytes"] = e["input_bytes"]
        m["sources.input_rows"] = e["input_rows"]
    kern = body.get("kernels") or {}
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = kern[k]["ns_per_row"] if k in kern else 0.0
    for k, v in streaming.items():
        m[f"streaming.{k}"] = v
    for k, v in index.items():
        m[f"index.{k}"] = v
    return m


PER_LAYER_UNITS = {
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.build_result_bytes": "bytes",
    "plans.plan_s": "s", "plans.plan_chars": "chars",
    "exec.execute_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "exec.slot_busy_ratio": "ratio",
    "exec.stage_skew_max": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.result_bytes": "bytes",
    "exec.broadcast_bytes": "bytes", "sources.input_bytes": "bytes", "sources.input_rows": "count",
    **{f"functions.{k}.ns_per_row": "ns" for k in KERNELS},
    "streaming.sig_s": "s", "streaming.probe_s": "s", "streaming.append_s": "s",
    "streaming.sink_s": "s", "streaming.upstream_s": "s", "streaming.triggers_per_batch": "count",
    "streaming.jobs_per_batch": "count", "streaming.state_rows": "count",
    "streaming.doc_latency_p50_s": "s", "streaming.doc_latency_tail_s": "s",
    "streaming.backlog_docs_max": "count", "streaming.gen_late_s": "s",
    "index.files": "count", "index.docs": "count", "index.rebuilds": "count", "index.rebuild_s": "s",
    "index.probe_growth": "ratio",
}


def sources():
    """Hash of the compiled sources: the program and the benchmark's JVM side."""
    with open(os.path.join(build.build_dir(), "stamp")) as f:
        return f.read().strip()


def commit():
    """The checkout's git commit, else the hash of the compiled sources."""
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "sources:" + sources()


def tracing_overhead(records_dir, workload, e2e):
    """Traced pass_s against the median of the untraced runs of the same
    compiled sources. All seeds count: a run's seed moves its pass_s less
    than the host does from run to run."""
    here = sources()
    base = []
    for p in glob.glob(os.path.join(records_dir, f"{workload}-*-trace0.json")):
        try:
            with open(p) as f:
                r = json.load(f)
            if r.get("sources") == here:
                base.append(r["end_to_end"]["pass_s"])
        except (OSError, ValueError, KeyError):
            pass
    if not base:
        return {"pass_s_traced": e2e["pass_s"], "pass_s_untraced": None, "overhead": None}
    b = stats.median(base)
    return {"pass_s_traced": e2e["pass_s"], "pass_s_untraced": b, "untraced_runs": len(base),
            "overhead": e2e["pass_s"] / b - 1.0}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    # task slots: half the CPUs this process may use, so the JVM's own
    # threads (JIT compilers, GC, the driver and the stream thread) run
    # beside the tasks instead of queueing behind them
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0)) // 2))
    out = build.build_dir()
    run_dir = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    records_dir = os.path.join(out, "records")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(records_dir, exist_ok=True)
    try:
        t0 = time.time()
        rec = run_jvm(args, run_dir, os.path.join(run_dir, "record.json"), cpus)
        jvm_s = time.time() - t0
        if rec.get("error"):
            print(f"workload failed: {rec['error']}", file=sys.stderr)
            return 1
        if args.workload == "ingest_gate":
            checks = None
            e2e, detail, attempted, failed = gate_metrics(rec)
        else:
            checks = check_batch(rec, run_dir)
            e2e, detail, attempted, failed = batch_metrics(rec, checks)
    except Exception as e:  # noqa: BLE001 - any failure ends the run without a result
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0
    detail["error_rate"] = stats.error_rate(attempted, failed)
    if args.trace:
        layers = per_layer(rec, cpus)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "commit": commit(), "sources": sources(),
              "config": rec["config"], "jvm_wall_s": jvm_s,
              "end_to_end": e2e, "detail": detail, "checks": checks,
              "attempted": attempted, "failed": failed, "body": rec["body"],
              "setup": rec["setup"]}
    if args.trace:
        record["per_layer"] = layers
        record["spans"] = rec["spans"]
        record["tracing"] = tracing_overhead(records_dir, args.workload, e2e)
    name = f"{args.workload}-{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records_dir, name), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {args.workload} seed {args.seed} master {rec['config']['master']} "
          f"heap {rec['config']['heap_max_mb']:.0f} MB  record {os.path.relpath(os.path.join(records_dir, name))}")
    for k, v in metrics.items():
        print(f"  {k:40s} {v['value']:>16.6g} {v['unit']}")
    print(f"  {'error_rate':40s} {detail['error_rate']:>16.6g} ({failed}/{attempted})")
    if "open_loop" in detail:
        ol = detail["open_loop"]
        print(f"  open loop at {ol['offered_docs_per_s']} docs/s: p50 {ol['latency_p50_s']:.3f} s, "
              f"p{ol['latency_tail_pct']:.0f} {ol['latency_tail_s']:.3f} s over {ol['latency_samples']} docs, "
              f"limit {ol['latency_limit_s']} s {'met' if ol['latency_limit_met'] else 'MISSED'}")
    if args.trace:
        print(f"  tracing overhead on pass_s: {record['tracing']['overhead']}")
    if not correct:
        bad = ([k for k, c in (checks or {}).items() if not c["ok"]] or detail.get("wrong")
               or "open-loop latency limit missed")
        print(f"output check failed: {bad}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
