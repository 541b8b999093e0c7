#!/usr/bin/env python3
"""Benchmark of the library's streaming and batch hot paths.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. A run builds the library and the
benchmark from source with sbt (perfbench/build.sbt) when their sources
differ from the last build's, and caches the classpath keyed by a hash of
those sources; every run then starts one JVM (perfbench.Main) that sets the
workload up, measures it and checks its outputs, and this script turns the
JVM's raw measurements into metrics. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones, named with their units in BENCHMARK.json
(perfbench/README.md says which moves which).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import accounting as acc  # noqa: E402

WORKLOADS = ("ks-window-count", "ks-table-enrich", "corpus-dedup")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
CLASSPATH = os.path.join(HERE, "target", "classpath.json")
JVM_TIMEOUT_S = 160
# A run whose generator offered chunks later than this (p99) did not offer
# the load it claims; it is flagged and counted as a failed operation.
GEN_LATE_LIMIT_MS = 250.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
QUERIES = ["q_dedup_minhash_lsh", "q_dedup_simhash_pairs", "q_dedup_components",
           "q_er_entities", "q_semdedup_pairs"]
LAYERS = ["sources", "api", "plans", "streaming", "operators", "sink", "bench"]
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    UNITS = {kind: {m["name"]: m["unit"] for m in metrics}
             for kind, metrics in json.load(_f).items() if kind in ("end_to_end", "per_layer")}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_hash():
    """SHA-256 over the path and content of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _dirs, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile library + benchmark (incrementally) unless the last build was
    of the same sources; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/")
    key = sources_hash()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = json.load(f)
        if cached["sources"] == key:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        json.dump({"sources": key, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def task_slots(workload):
    """Spark task slots: every core but one for the JVM's own threads
    (Spark scheduling, GC, RocksDB), and one more for the generator thread of the
    streaming workloads. Slots plus the generator never exceed nproc."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 2
    return max(1, n - (2 if workload.startswith("ks-") else 1))


def run_jvm(cp, args, work):
    raw = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    cmd = [java, "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--slots", str(task_slots(args.workload)), "--data", DATA, "--work", work,
            "--out", raw]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(raw):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"benchmark JVM failed ({code})")
    with open(raw) as f:
        return json.load(f)


# ---- streaming -------------------------------------------------------------

def stream_open_loop(region, stream_index):
    chunks = [tuple(c) for c in region["chunks"]]
    batches = [(p["start_ms"], p["start_ms"] + p["durations"].get("triggerExecution", 0),
                p["end_offsets"][stream_index]) for p in region["progress"]]
    return chunks, batches


def stream_index(region):
    """The source the chunks went to: the one whose last end offset is the
    last chunk's offset (the table source, if any, stops earlier)."""
    last = region["chunks"][-1][2]
    ends = region["progress"][-1]["end_offsets"]
    return next((i for i, e in enumerate(ends) if e == last), 0)


def stream_e2e(region):
    idx = stream_index(region)
    chunks, batches = stream_open_loop(region, idx)
    lat = acc.due_latencies(chunks, [(c, e) for _s, c, e in batches])
    job_s = acc.median(region["jobs_s"])
    return {
        "throughput_rps": region["job_records"] / job_s,
        "latency_p50_ms": acc.checked_percentile(lat, 0.50),
        "latency_p99_ms": acc.checked_percentile(lat, 0.99),
        "job_s": job_s,
    }, {"latency_samples": len(lat), "jobs_s": region["jobs_s"],
        "trigger_ms": [p["durations"].get("triggerExecution") for p in region["progress"]
                       if p["start_ms"] >= region["open_start_ms"]],
        "gen_late_p99_ms": acc.percentile(acc.generator_lateness(chunks), 0.99)[0]}


def stream_layers(region, raw):
    idx = stream_index(region)
    chunks, batches = stream_open_loop(region, idx)
    data = [p for p in region["progress"] if p["rows"] > 0]
    dur = lambda k: acc.median([p["durations"].get(k, 0) for p in data])  # noqa: E731

    def state(f):
        return [sum(f(s) for s in p["state"]) for p in data]

    custom = lambda k: state(lambda s: s["custom"].get(k, 0))  # noqa: E731
    m = {
        "gen.late_p99_ms": acc.percentile(acc.generator_lateness(chunks), 0.99)[0],
        "source.backlog_max_records": acc.backlog_max(
            chunks, batches, raw["load"]["open_chunk_records"]),
        "api.build_ms": raw["api_build_ms"],
        "trigger.query_planning_ms": dur("queryPlanning"),
        "trigger.count": len(data),
        "trigger.rows_per_batch": sum(p["rows"] for p in data) / max(1, len(data)),
        "trigger.execution_p50_ms": dur("triggerExecution"),
        "trigger.add_batch_ms": dur("addBatch"),
        "trigger.wal_commit_ms": dur("walCommit"),
        "trigger.commit_offsets_ms": dur("commitOffsets"),
        "state.commit_ms": acc.median(state(lambda s: s["commit_ms"])),
        "state.fsync_ms": acc.median(custom("rocksdbCommitFileSyncLatencyMs")),
        "state.update_ms": acc.median(state(lambda s: s["update_ms"])),
        "state.put_count": sum(custom("rocksdbPutCount")),
        "state.get_count": sum(custom("rocksdbGetCount")),
        "state.rows_total": state(lambda s: s["rows_total"])[-1] if data else 0,
        "state.memory_bytes": max(state(lambda s: s["memory_bytes"]), default=0),
        "state.bytes_written": sum(custom("rocksdbTotalBytesWritten")),
        "sink.batch_ms": acc.median(region["sink_ms"]),
    }
    spans = region["spans"] + acc.trigger_spans(region["progress"])
    selfs = acc.self_times(spans, region["start_ms"], region["end_ms"])
    # state-store work runs inside the stateful stage's tasks: move the
    # state share of task time (update + removal + commit) to `streaming`
    run_ms = region["tasks"]["exec.run_ms"]
    state_ms = sum(sum(s["update_ms"] + s["removal_ms"] + s["commit_ms"] for s in p["state"])
                   for p in region["progress"])
    share = min(1.0, state_ms / run_ms) if run_ms else 0.0
    moved = selfs.get("operators", 0.0) * share
    selfs["operators"] = selfs.get("operators", 0.0) - moved
    selfs["streaming"] = selfs.get("streaming", 0.0) + moved
    return m, selfs, spans


# ---- batch -----------------------------------------------------------------

def batch_e2e(region, raw):
    job_s = acc.median(region["jobs_s"])
    n = raw["input_records"]
    # a batch job commits every input record at once: each record's latency
    # is its job's wall time
    lat = [s * 1000.0 for s in region["jobs_s"] for _ in range(n)]
    return {
        "throughput_rps": n / job_s,
        "latency_p50_ms": acc.checked_percentile(lat, 0.50),
        "latency_p99_ms": acc.checked_percentile(lat, 0.99),
        "job_s": job_s,
    }, {"latency_samples": len(lat), "jobs_s": region["jobs_s"]}


def batch_layers(region):
    plan = region["plan"]
    m = {k: plan.get(k, 0.0) for k in (
        "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms", "plan.exchanges",
        "plan.codegen_stages", "pairs.candidates", "pairs.emitted")}
    m["pairs.useful_ratio"] = (m["pairs.emitted"] / m["pairs.candidates"]
                               if m["pairs.candidates"] else 0.0)
    for q in QUERIES:
        m[f"query.{q}_s"] = acc.median(region["query_s"][q])
    selfs = acc.self_times(region["spans"], region["start_ms"], region["end_ms"])
    return m, selfs, region["spans"]


def oracle_check(raw, threads):
    """DuckDB digests of the oracle SQL on the corpus the jobs ran on,
    cached per (seed, size), keyed also by a hash of the corpus rows and of
    the oracle SQL so that a change to either is checked afresh. It runs
    after the JVM has exited, so it may use every core."""
    o = raw["oracle"]
    sql = hashlib.sha256(json.dumps(o["sql"], sort_keys=True).encode()).hexdigest()
    key = f"{raw['seed']}-{o['docs']}-{o['vectors']}-{o['corpus_digest'][:16]}-{sql[:16]}"
    cache = os.path.join(WORK, "oracle-cache", key + ".json")
    if os.path.exists(cache):
        want = json.load(open(cache))
    else:
        import duckdb
        con = duckdb.connect()
        con.execute(f"SET threads = {threads}")
        con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb-tmp')}'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{o['dir']}/{t}.parquet/*.parquet')")
        want = {}
        for name, sql in o["sql"].items():
            rel = con.sql(sql)
            want[name] = acc.result_digest(rel.columns, rel.fetchall())
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(want, f)
    return acc.digest_mismatches(o["spark"], want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(cp, args, work)
        raw["seed"] = args.seed
        emit(args, raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def emit(args, raw):
    plain, traced = raw["plain"], raw["traced"]
    checks = list(raw["checks"])
    stream = raw["kind"] == "stream"
    if stream:
        e2e, info = stream_e2e(plain)
        late = info["gen_late_p99_ms"]
        checks.append({"name": "generator kept its schedule", "ok": late <= GEN_LATE_LIMIT_MS,
                       "detail": f"late p99 {late:.3f} ms (limit {GEN_LATE_LIMIT_MS} ms)"})
    else:
        e2e, info = batch_e2e(plain, raw)
        t0 = time.time()
        bad = oracle_check(raw, os.cpu_count() or 1)
        info["oracle_check_s"] = time.time() - t0
        checks.append({"name": "DuckDB oracle digests", "ok": not bad,
                       "detail": f"mismatch: {bad}" if bad else
                       f"{len(QUERIES)} queries match at {raw['oracle']['docs']} docs / "
                       f"{raw['oracle']['vectors']} vectors"})
    # JVM start to the first timed operation: session start, input
    # generation, the first (cold) set-up and its warm-up jobs
    e2e["setup_s"] = (plain["start_ms"] - raw["jvm_start_ms"]) / 1000.0
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    # attempted: every timed job and open-loop chunk, plus each check
    attempted = len(plain["jobs_s"]) + len(plain.get("chunks", [])) + len(checks)
    failed = sum(1 for c in checks if not c["ok"])
    correct = all(c["ok"] for c in checks if c["name"] != "generator kept its schedule")
    if args.trace:
        metrics = layer_metrics(raw, traced, e2e, stream)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS["end_to_end"].items()}
    print(json.dumps({"summary": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "session": raw["session"], "session_start_s": raw["session_start_s"],
        "load": raw.get("load"), "error_rate": failed / attempted,
        "checks": checks, **info}}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not correct:
        sys.exit(1)


def layer_metrics(raw, traced, e2e, stream):
    if stream:
        m, selfs, spans = stream_layers(traced, raw)
        te2e, _ = stream_e2e(traced)
    else:
        m, selfs, spans = batch_layers(traced)
        te2e, _ = batch_e2e(traced, raw)
    m = {**m, **traced["tasks"]}
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = selfs.get(layer, 0.0)
    for k in ("latency_p50_ms", "job_s", "throughput_rps"):
        m[f"trace.overhead_{k}"] = te2e[k] - e2e[k]
    unknown = set(m) - set(UNITS["per_layer"])
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a metric that does not apply to the workload reads 0
    out = {k: {"value": m.get(k, 0.0), "unit": u} for k, u in UNITS["per_layer"].items()}
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{raw['workload']}-{raw['seed']}.json"), "w") as f:
        json.dump({"start_ms": traced["start_ms"], "end_ms": traced["end_ms"],
                   "self_ms": selfs, "spans": spans}, f)
    return out


if __name__ == "__main__":
    main()
