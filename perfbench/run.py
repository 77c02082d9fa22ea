#!/usr/bin/env python3
"""graft benchmark: end-to-end metrics, or a traced per-layer profile.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine plus the
harness (perfbench/build.sbt) and caches the classpath under
perfbench/.work; every run then generates its inputs from --seed, starts
one JVM on local[nproc] with a single closed-loop client, checks every
timed output, and prints one JSON result as its last stdout line. A line
before it records host telemetry.

    python3 perfbench/run.py --make-goldens   # re-derive goldens.json

Workloads: dedup_cold, mr_stream (see README.md).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["dedup_cold", "mr_stream"]

# Input sizes (all runs of a workload see the same sizes). Warm-up inputs
# come from other seeds; the dedup warm-up is smaller because a cold
# pass costs about the same at any size (JIT, class loading, codegen).
DEDUP_DOCS, DEDUP_PASSES, DEDUP_WARM_DOCS = 800, 2, 400
WC_SHARDS, WC_SHARD_BYTES = 4, 2_000_000
PR_NODES, PR_EDGES, PR_ITER, DAMPING = 41_332, 100_000, 10, 0.85
STREAM_CHUNKS, STREAM_WARM_CHUNKS, STREAM_PER_CHUNK, STREAM_USERS = 24, 8, 500, 300
JVM_TIMEOUT_S = 170
HEAP = "3g"

DEDUP_QUERIES = ["d07_allpairs_jaccard", "d06_dedup_clusters", "d02_minhash_lsh",
                 "p01_corpus_curation"]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build
def source_stamp():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile the engine and harness once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from a checkout of the repository")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.json")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                cached = json.load(f)
            if cached["stamp"] == stamp:
                return cached["classpath"]
        log("building engine + harness (sbt)")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail("build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            json.dump({"stamp": stamp, "classpath": cp}, f)
        log(f"built in {time.time() - t0:.0f}s")
        return cp


# ------------------------------------------------------------------ inputs
def cached(path, make):
    """Fixed inputs are generated once per checkout."""
    done = os.path.join(path, "_GENERATED")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        make(path)
        open(done, "w").close()
    return path


def make_inputs(workload, seed, inputs, trace):
    """Writes the run's inputs under `inputs`; returns what the checks and
    metrics need to know about them."""
    seed %= 2 ** 31  # numpy seeds must be non-negative
    os.makedirs(inputs, exist_ok=True)
    data = os.path.join(WORK, "data")
    info = {}
    if workload == "dedup_cold":
        fixed = cached(os.path.join(data, f"docs-{DEDUP_DOCS}"),
                       lambda p: gen.documents(p, DEDUP_DOCS, seed=gen.DEDUP_SEED))
        # one copy per pass (docs_<section>_<i>): the same bytes under another
        # path are another memo key, so every pass is cold
        # a traced run times one pass in each of its three sections
        sections = ([("timed", 1), ("traced", 1), ("after", 1)] if trace
                    else [("timed", DEDUP_PASSES)])
        for label, passes in sections:
            for i in range(passes):
                shutil.copytree(fixed, os.path.join(inputs, f"docs_{label}_{i}"))
        # the warm-up pass reads seeded documents: another memo key
        gen.documents(os.path.join(inputs, "docs_warm"), DEDUP_WARM_DOCS, seed=seed)
    else:
        info["shards"] = {}
        for i in range(WC_SHARDS):
            p = os.path.join(inputs, "corpus", f"shard_{i:02d}.txt")
            counts, size = gen.corpus_shard(p, seed * 1000 + i, WC_SHARD_BYTES)
            info["shards"][p] = (counts, size)
        # warm-up inputs of the timed sizes, from other seeds
        gen.corpus_shard(os.path.join(inputs, "warm_shard.txt"), seed * 1000 + 999,
                         WC_SHARD_BYTES)
        info["adj"] = gen.adjacency(os.path.join(inputs, "graph.tsv"),
                                    seed, PR_NODES, PR_EDGES)
        gen.adjacency(os.path.join(inputs, "warm_graph.tsv"), seed + 1, PR_NODES, PR_EDGES)
        info["stream"] = gen.stream_chunks(os.path.join(inputs, "chunks"), seed,
                                           STREAM_CHUNKS, STREAM_PER_CHUNK, STREAM_USERS)
        gen.stream_chunks(os.path.join(inputs, "warm_chunks"), seed + 1,
                          STREAM_WARM_CHUNKS, STREAM_PER_CHUNK, STREAM_USERS)
    return info


# ------------------------------------------------------------------ host
def cpu_steal_s():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ------------------------------------------------------------------ JVM
def java(cp, run_dir, main, args):
    """Runs one JVM with cwd `run_dir`; returns its exit code ("timeout"
    after JVM_TIMEOUT_S, when it is killed and reaped)."""
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64"]
           + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return rc


def run_jvm(cp, args, run_dir):
    out = os.path.join(run_dir, "result.json")
    rc = java(cp, run_dir, "graftbench.Main", args + ["--out", out])
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks
def golden_inputs():
    """What the goldens were derived from; a change needs --make-goldens."""
    return {"dedup_docs": DEDUP_DOCS, "dedup_seed": gen.DEDUP_SEED}


def load_goldens():
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)
    if goldens.get("inputs") != golden_inputs():
        fail("goldens.json was derived from other inputs; rerun --make-goldens")
    return goldens


def check_query_ops(ops, goldens):
    bad = []
    for op in ops:
        g = goldens["dedup"].get(op["name"])
        if not op["ok"] or g is None or (op["rows"], op["digest"]) != (g["rows"], g["digest"]):
            bad.append(op["name"])
    return bad


def check_wordcount(op, shards):
    counts, _ = shards[op["shard"]]
    with open(op["json"]) as f:
        got = json.load(f)
    if got != dict(counts) or sum(got.values()) != sum(counts.values()):
        return False
    with open(op["tsv"]) as f:
        lines = f.read().split("\n")
    header = f"# sorted by default - Total: {len(counts)} entries"
    body = dict(ln.split("\t") for ln in lines[1:] if ln)
    return lines[0] == header and {k: int(v) for k, v in body.items()} == dict(counts)


def check_pagerank(op, adj):
    import pyarrow.parquet as pq
    t = pq.read_table(op["out"])
    got = dict(zip(t.column("page").to_pylist(), t.column("rank").to_pylist()))
    want = gen.pagerank_replay(adj, PR_ITER, DAMPING, PR_NODES)
    if set(got) != set(want):
        return False
    if any(abs(got[k] - v) > 1e-9 * max(1.0, abs(v)) for k, v in want.items()):
        return False
    # generator invariant: a source nobody links to keeps exactly (1-d)/N
    linked = {t for ts in adj.values() for t in ts}
    base = (1.0 - DAMPING) / PR_NODES
    return all(got[s] == base for s in adj if s not in linked)


# ------------------------------------------------------------------ metrics
def evaluate(workload, res, info, goldens, section="timed"):
    """(attempted, failed, failure details) of one section."""
    sec = res[section]
    bad = []
    if workload == "dedup_cold":
        # one operation is one cold pass of the four queries
        failed = 0
        for i, p in enumerate(sec["passes"]):
            wrong = check_query_ops(p["ops"], goldens)
            if p["memo_builds"] != 1:
                wrong.append(f"memo_builds={p['memo_builds']}")
            failed += int(bool(wrong))
            bad += [f"pass{i}:{w}" for w in wrong]
        return len(sec["passes"]), failed, bad
    for op in sec["ops"]:
        if not (op["ok"] and check_wordcount(op, info["shards"])):
            bad.append(op.get("id", "wordcount"))
    pr = sec["pagerank"]
    if not (pr["ok"] and check_pagerank(pr, info["adj"])):
        bad.append("pagerank")
    st, want = sec["stream"], info["stream"]
    # one micro-batch per chunk, then the two one-row sentinel batches
    batches = st.get("batches", [])
    if not (st["ok"] and st["rows"] == want["rows"] and st["digest"] == want["digest"]
            and st["input_rows"] == want["events"] + 2
            and len(batches) == STREAM_CHUNKS + 2
            and all(rows == STREAM_PER_CHUNK for rows, _ in batches[:STREAM_CHUNKS])):
        bad.append("stream")
    return len(sec["ops"]) + 2, len(bad), bad


def op_latencies(workload, sec):
    """Per-operation latencies (s) of one section: cold passes on
    dedup_cold; WordCount jobs (submit to completed, from `jobInfo`), the
    PageRank run, the stream and its data micro-batches (`batchDuration`)
    on mr_stream."""
    if workload == "dedup_cold":
        return {"pass": [p["s"] for p in sec["passes"]]}
    return {"job": [(o["completed"] - o["created"]) / 1e3 for o in sec["ops"] if o["ok"]],
            "pagerank": [sec["pagerank"]["s"]], "stream": [sec["stream"]["s"]],
            "batch": [ms / 1e3 for _, ms in sec["stream"].get("batches", [])[:STREAM_CHUNKS]]}


def metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(res):
    return {
        "setup_s": res["setup_s"],
        # dedup_cold: the median of its cold passes; mr_stream: the
        # WordCount jobs, PageRank and the stream, end to end
        "wall_s": res["wall_s"],
        "live_heap_mb": statistics.median(res["heaps_mb"]),
    }


def p50(v):
    return statistics.median(v) if v else 0.0


def per_layer(workload, res, info):
    sec = res["traced"]
    layers = dict(res["layers"])
    out = {"session.start_s": res["session_s"]}
    ops = [op for p in sec["passes"] for op in p["ops"]] if workload == "dedup_cold" else []
    for q in DEDUP_QUERIES:
        runs = [op for op in ops if op.get("name") == q and op["ok"]]
        for k in ("build_s", "action_s", "jobs"):
            out[f"op.{q}.{k}"] = p50([op[k] for op in runs])
    out.update(layers)
    out["dedup.memo_builds"] = (p50([p["memo_builds"] for p in sec["passes"]])
                                if workload == "dedup_cold" else 0.0)
    mj = {k: 0.0 for k in ["job_p50_s", "queue_wait_s", "run_s", "map_tasks",
                           "reduce_tasks", "spark_jobs", "transform_s", "sink_s",
                           "wc_mb_per_s", "pagerank_iter_s", "pagerank_jobs"]}
    st = {"batch_p50_ms": 0.0, "batch_p90_ms": 0.0, "events_per_s": 0.0}
    if workload == "mr_stream":
        ok = [op for op in sec["ops"] if op["ok"]]
        lat = op_latencies(workload, sec)
        mj["job_p50_s"] = p50(lat["job"])
        mj["queue_wait_s"] = p50([(o["started"] - o["created"]) / 1e3 for o in ok])
        mj["run_s"] = p50([(o["completed"] - o["started"]) / 1e3 for o in ok])
        mj["map_tasks"] = p50([o["map_tasks"] for o in ok])
        mj["reduce_tasks"] = p50([o["reduce_tasks"] for o in ok])
        mj["spark_jobs"] = p50([o["jobs"] for o in ok])
        mj["transform_s"] = res["transform_s"]
        mj["sink_s"] = res["runon_s"] - res["transform_s"]
        mj["wc_mb_per_s"] = sum(info["shards"][o["shard"]][1] for o in ok) / 1e6 / max(
            1e-9, sum(o["s"] for o in ok))
        pr = sec["pagerank"]
        mj["pagerank_iter_s"] = pr["s"] / pr["iterations"]
        mj["pagerank_jobs"] = float(pr["jobs"])
        batch_ms = [x * 1e3 for x in lat["batch"]]
        st["batch_p50_ms"] = p50(batch_ms)
        # linear interpolation between order statistics (inclusive method)
        st["batch_p90_ms"] = (statistics.quantiles(batch_ms, n=10, method="inclusive")[8]
                              if len(batch_ms) > 1 else p50(batch_ms))
        st["events_per_s"] = info["stream"]["events"] / sec["stream"]["s"]
    out.update({f"minijob.{k}": v for k, v in mj.items()})
    out.update({f"stream.{k}": v for k, v in st.items()})
    out["trace.overhead_s"] = res["trace_overhead_s"]
    return out


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units(spec, kind):
    return {m["name"]: m["unit"] for m in spec[kind]}


# ------------------------------------------------------------------ main
def run(workload, seed, trace):
    spec = load_spec()
    cp = classpath()
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    info = make_inputs(workload, seed, inputs, trace)
    goldens = load_goldens()
    steal0, t0 = cpu_steal_s(), time.time()
    args = ["--workload", workload, "--trace", "1" if trace else "0",
            "--inputs", inputs, "--work", run_dir, "--nodes", str(PR_NODES)]
    res = run_jvm(cp, args, run_dir)
    host = {"steal_s": cpu_steal_s() - steal0, "load1": load1(),
            "run_wall_s": time.time() - t0, "nproc": os.cpu_count(),
            "driver_max_heap_mb": res["driver_max_heap_mb"],
            "spark_cores": res["cores"], "session_s": res["session_s"]}
    # every section of the run is checked, the traced one included
    attempted, failed, bad = 0, 0, []
    for section in ("timed", "traced", "after") if trace else ("timed",):
        a, f, b = evaluate(workload, res, info, goldens, section)
        attempted, failed, bad = attempted + a, failed + f, bad + [f"{section}:{x}" for x in b]
    if trace:
        vals = per_layer(workload, res, info)
        vals["host.steal_s"], vals["host.load1"] = host["steal_s"], host["load1"]
        want = units(spec, "per_layer")
    else:
        vals = end_to_end(res)
        want = units(spec, "end_to_end")
    missing = set(want) - set(vals)
    if missing:
        fail(f"metrics not produced: {sorted(missing)}")
    lat = {f"{section}.{k}": [round(x, 4) for x in v]
           for section in ("timed", "traced", "after") if section in res
           for k, v in op_latencies(workload, res[section]).items()}
    print(json.dumps({"workload": workload, "seed": seed, "trace": trace, "op_s": lat,
                      "host": host, "failed_ops": bad}), flush=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: metric(vals[k], want[k]) for k in want}}


def make_goldens():
    """Record the (rows, digest) of every dedup query on the fixed inputs,
    then validate the Spark results behind them against the DuckDB oracles:
    graft.Verify dumps the same queries on the same inputs and
    tools/check.py compares them with the oracle SQL. Any FAIL aborts."""
    cp = classpath()
    run_dir = os.path.join(WORK, "runs", "goldens")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    make_inputs("dedup_cold", 1, inputs, trace=False)
    res = run_jvm(cp, ["--workload", "dedup_cold", "--trace", "0", "--inputs", inputs,
                       "--work", run_dir, "--nodes", str(PR_NODES)], run_dir)
    dedup = {}
    for op in res["timed"]["passes"][0]["ops"]:
        assert op["ok"], op
        dedup[op["name"]] = {"rows": op["rows"], "digest": op["digest"]}
    data = os.path.join(inputs, "docs_timed_0")
    dump = os.path.join(run_dir, "verify")
    rc = java(cp, run_dir, "graft.Verify", [data, dump] + sorted(dedup))
    check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            data, dump], stdout=subprocess.PIPE, text=True)
    lines = check.stdout.strip().splitlines()
    passed = sorted(ln.split()[1] for ln in lines if ln.startswith("PASS"))
    if rc != 0 or check.returncode != 0 or passed != sorted(dedup):
        sys.stderr.write(check.stdout)
        fail("dedup goldens do not validate against the DuckDB oracles")
    goldens = {"inputs": golden_inputs(), "dedup": dedup,
               "validated": f"graft.Verify + tools/check.py: {len(passed)}/{len(dedup)} "
                            "PASS against the DuckDB oracles"}
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    # accepted for a uniform command line; the work per run is fixed
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--make-goldens", action="store_true")
    a = p.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the repository root")
    if a.make_goldens:
        make_goldens()
        return
    if a.workload is None:
        fail("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.trace == 1)), flush=True)


if __name__ == "__main__":
    main()
