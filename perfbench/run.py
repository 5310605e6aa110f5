#!/usr/bin/env python3
"""The repository benchmark: end-to-end latency, throughput and set-up cost of
the graft engine on two seeded workloads, with a traced per-layer run.

    python3 perfbench/run.py --workload tpch_warm --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload
    python3 -m unittest discover -s perfbench            # self-tests

Run from the repository root. The first run compiles and packages the
engine from src/main/scala together with the JVM driver in
perfbench/runner (sbt, offline) into .bench_build/, and the first run of
each workload leaves a JVM class-data archive there; generated inputs are
cached per (workload, seed) under .bench_data/. The engine runs as shipped: a
`GraftSession.local(nproc)` session with no conf set by the benchmark, one
client thread, closed loop.

Workloads:
  tpch_warm  seven TPC-H queries (two qgen parameter sets per seed),
             permuted passes over tables held in the engine's warm
             columnar cache
  delta_rw   appends, merges, deletes, optimize and checkpoint on a Delta
             table, interleaved with full, partition-pruned and
             time-travel reads, then a read-after-reopen check

Every answer is checked against DuckDB on the same parquet (for delta_rw,
against a DuckDB model table replaying the same writes). The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"};
--trace 0 gives the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (and writes its spans under .bench_data/trace/). Metric names
and units are those of BENCHMARK.json at the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from urllib.parse import unquote

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ["tpch_warm", "delta_rw"]
READ_KINDS = {"sql", "read_full", "read_where", "read_tt"}
WRITE_KINDS = {"append", "merge", "delete", "optimize", "checkpoint"}

# sizes: chosen so that one run (set-up repeated, warm-up, a measured
# stream of whole groups) stays under 50 s on 4 cores
TPCH_SF = 0.02
DELTA_BASE_ORDERS = 10_000
DELTA_BATCH_ORDERS = 300
# a set-up costs ~7 s (warm TPC-H cache) or ~1 s (Delta create) once the
# JVM is warm, and 3-4x that the first time
SETUP_REPS = {"tpch_warm": 2, "delta_rw": 2}
PROBE_ITERS = 10
# discarded closed-loop time, run before the last set-up (whole groups: a
# Delta warm-up always runs one round, ~20 s cold)
WARMUP_SECONDS = 5
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 150  # the whole run must end within 180 s
BUILD_TIMEOUT_S = 600  # first run, build included, within 900 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _source_digest(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/runner"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, base)):
            # skip sbt's output and its nested meta-build
            dirnames[:] = sorted(d for d in dirnames if d != "target" and
                                 not (d == "project" and os.path.basename(dirpath) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


def ensure_build(root):
    """Compile and package engine + driver once per source state; returns
    the classpath (jars only, so that the JVM can archive its classes)."""
    out = build_dir(root)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = _source_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(out):
        if ".jsa" in f:  # class archives of the previous build
            os.remove(os.path.join(out, f))
    log("building engine and driver (sbt, offline)")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(out, "build.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=os.path.join(root, "perfbench", "runner"), env=env,
            stdout=subprocess.PIPE, stderr=logf, text=True, timeout=BUILD_TIMEOUT_S)
        logf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed; see {out}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build took {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, data_root):
    """Generate (or reuse) the seeded inputs; returns (dir, parts, gen_s)."""
    import numpy as np
    import pyarrow.parquet as pq
    import gen
    import queries
    # keyed by the generators' own source too, so an edit to them regenerates
    h = hashlib.sha256(repr((TPCH_SF, DELTA_BASE_ORDERS, DELTA_BATCH_ORDERS)).encode())
    for mod in (gen, queries):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    d = os.path.join(data_root, "inputs", workload, f"seed{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(d, "parts.json")
    t0 = time.time()
    if os.path.exists(done):
        with open(done) as f:
            return d, json.load(f), 0.0
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    data_rng = np.random.default_rng([seed, 1])
    stream_rng = np.random.default_rng([seed, 2])
    if workload == "tpch_warm":
        for name, t in gen.tpch_tables(data_rng, TPCH_SF).items():
            pq.write_table(t, f"{d}/{name}.parquet")
        ops = queries.tpch_stream(stream_rng, 80)
        parts = {"warmup": ops[:len(ops) // 2], "stream": ops[len(ops) // 2:],
                 "views": {t: f"{d}/{t}.parquet" for t in queries.TPCH_TABLES}}
    else:
        dl = queries.DeltaLog(data_rng, DELTA_BASE_ORDERS, DELTA_BATCH_ORDERS)
        pq.write_table(dl.base, f"{d}/base.parquet")
        ops, batches = dl.ops(12)
        os.makedirs(f"{d}/batches")
        for op in ops:
            if op["id"] in batches:
                op["file"] = f"{d}/batches/{op['id']}.parquet"
                pq.write_table(batches[op["id"]], op["file"])
        # warm-up: the log's own writes and reads, on an earlier set-up's table
        parts = {"warmup": ops, "stream": ops,
                 "base": f"{d}/base.parquet"}
    with open(done, "w") as f:
        json.dump(parts, f)
    return d, parts, time.time() - t0


# ------------------------------------------------------------------ run

def run_jvm(root, cp, plan, work):
    """Run the JVM driver on one plan. The first run of a workload after a
    build writes a class-data archive of the classes it loaded when it
    exits (which slows that run); later runs map it, which shortens JVM
    start-up and the cold first set-up repetition by several seconds."""
    plan_path, result_path = f"{work}/plan.json", f"{work}/result.json"
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(root, ".bench_data", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # shuffle/spill scratch inside the checkout (the engine's own override)
    env["GRAFT_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    archive = os.path.join(build_dir(root), f"{plan['workload']}.jsa")
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}.tmp")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Runner", plan_path, result_path]
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"engine run timed out; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(result_path):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"engine run failed (exit {rc}); see {work}/jvm.log")
    if os.path.exists(f"{archive}.tmp"):
        os.replace(f"{archive}.tmp", archive)
    with open(result_path) as f:
        return json.load(f)


def check_answers(workload, parts, execs, answers):
    """Judge every exec against DuckDB; a failed exec gets a "failure"
    message. Returns the rows the writes logically changed (delta_rw)."""
    import oracle
    import queries
    answers = [[json.loads(l) for l in a.split("\n")] if a else [] for a in answers]
    by_id = {op["id"]: op for op in parts["stream"]}
    if workload == "tpch_warm":
        orc = oracle.Oracle(parts["views"])
        expected = lambda op: orc.answer(op["sql"])
    else:
        model = oracle.DeltaModel(parts["base"], queries.DELTA_FULL_SQL)
        expected = lambda op: (model.state_answer(op["state"]) if op["kind"] == "read_tt"
                               else model.answer(op["sql"], op.get("pred")))
    judged = {}  # (answer, op id) -> difference: equal answers are judged once
    changed = 0
    for e in execs:
        op = by_id.get(e["id"], {"id": "reopen", "kind": "read_full",
                                 "sql": queries.DELTA_FULL_SQL})
        if op["kind"] in WRITE_KINDS:
            changed += model.apply(op, op.get("file"))
        if e["error"]:
            e["failure"] = f"{e['id']}: {e['error']}"
        elif op["kind"] in READ_KINDS:
            # a Delta read's answer depends on the table state, so only
            # TPC-H answers are memoized
            key = (e["answer"], op["id"] if workload == "delta_rw" else op["sql"])
            if key not in judged:
                judged[key] = oracle.compare(answers[e["answer"]], expected(op))
            if judged[key]:
                e["failure"] = f"{e['id']}: {judged[key]}"
    return changed


def delta_log_facts(table_dir):
    """Files and bytes each commit after the initial create added/removed,
    rows in the added files, and bytes under the table at the end."""
    import pyarrow.parquet as pq
    log_dir = os.path.join(table_dir, "_delta_log")
    commits = sorted(f for f in os.listdir(log_dir) if f.endswith(".json") and f[:20].isdigit())
    added = removed = added_bytes = rows_written = 0
    for c in commits[1:]:
        with open(os.path.join(log_dir, c)) as f:
            for line in f:
                a = json.loads(line)
                if "add" in a:
                    added += 1
                    added_bytes += a["add"]["size"]
                    path = os.path.join(table_dir, unquote(a["add"]["path"]))
                    rows_written += pq.ParquetFile(path).metadata.num_rows
                elif "remove" in a:
                    removed += 1
    stored = sum(os.path.getsize(os.path.join(dp, f))
                 for dp, _, fs in os.walk(table_dir) for f in fs)
    return {"commits": max(1, len(commits) - 1), "files_added": added,
            "files_removed": removed, "bytes_added": added_bytes,
            "rows_written": rows_written, "stored_bytes": stored}


def layer_metrics(execs, spans, kinds):
    """Per-layer metrics of the traced phase: means per read, or per write
    of one kind."""
    import stats
    traced = [(i, e) for i, e in enumerate(execs) if e["phase"] == "traced"]
    reads = [(i, e) for i, e in traced if kinds[e["id"]] in READ_KINDS]
    own, children = {}, {}
    for s in spans:
        own.setdefault(s["qid"], []).append(s)
        children.setdefault(s["parent"], []).append(s)

    def spans_of(i, e, name):
        return [s for s in own.get(f"traced:{i}:{e['id']}", []) if s["name"] == name]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def phase_ms(name):
        return mean(sum(s["end"] - s["start"] for s in spans_of(i, e, name)) for i, e in reads)

    def counter(k, scale=1.0):
        return mean(float(e["counters"][k]) * scale for _, e in reads)

    def idle_ms(i, e):
        """Execute wall time during which no task of the query ran."""
        tasks = [(t["start"], t["end"]) for t in spans_of(i, e, "task")]
        return sum((x["end"] - x["start"]) -
                   stats.union_length(stats.clipped(tasks, x["start"], x["end"]))
                   for x in spans_of(i, e, "execute"))

    invoked = sum(float(e["counters"]["rules_graft_invoked"]) for _, e in reads)
    effective = sum(float(e["counters"]["rules_graft_effective"]) for _, e in reads)
    m = {
        "analyze_ms": phase_ms("analyze"),
        "optimize_ms": phase_ms("optimize"),
        "plan_ms": phase_ms("plan"),
        "prep_ms": phase_ms("prep"),
        "exec_ms": phase_ms("execute"),
        "exec.self_ms": mean(sum(stats.self_time(x, children.get(x["id"], []))
                                 for x in spans_of(i, e, "execute")) for i, e in reads),
        "rules.graft_ms": counter("rules_graft_ms"),
        "rules.graft_effective_ratio": effective / invoked if invoked else 0.0,
        "dispatch.jobs": counter("jobs"),
        "dispatch.tasks": counter("tasks"),
        "dispatch.idle_ms": mean(idle_ms(i, e) for i, e in reads),
        "exec.task_cpu_ms": counter("task_cpu_ms"),
        "exec.gc_ms": counter("gc_ms"),
        "exchange.shuffle_write_mb": counter("shuffle_write_bytes", 1e-6),
        "exchange.shuffle_write_ms": counter("shuffle_write_ms"),
        "exchange.fetch_wait_ms": counter("fetch_wait_ms"),
        "scan.input_mb": counter("input_bytes", 1e-6),
        "scan.input_rows": counter("input_rows"),
        "operators.spill_mb": counter("spill_bytes", 1e-6),
        "operators.peak_exec_mb": counter("peak_exec_bytes", 1e-6),
        "operators.graft_nodes": counter("graft_nodes"),
        "delta.snapshot_ms": mean(sum(s["end"] - s["start"] for s in spans_of(i, e, "snapshot"))
                                  for i, e in reads if kinds[e["id"]] != "sql"),
    }
    for kind in ("append", "merge", "delete", "optimize"):
        m[f"delta.{kind}_ms"] = mean(e["ms"] for _, e in traced if kinds[e["id"]] == kind)
    return m


def run_workload(root, cp, spec, workload, seed, seconds, trace):
    import queries
    import stats
    data_root = os.path.join(root, ".bench_data")
    in_dir, parts, gen_s = make_inputs(workload, seed, data_root)
    work = os.path.join(data_root, "runs", f"{workload}-seed{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    plan = {"workload": workload, "cores": cores, "seconds": seconds, "trace": trace,
            "setup_reps": SETUP_REPS[workload], "data_dir": in_dir, "work_dir": work,
            "probe_iters": PROBE_ITERS, "warmup_seconds": WARMUP_SECONDS,
            "warmup": parts["warmup"], "stream": parts["stream"]}
    if workload == "tpch_warm":
        plan["tables"] = queries.TPCH_TABLES
    else:
        plan["delta"] = {"base": parts["base"], "partition": queries.DELTA_PARTITION,
                         "keys": queries.DELTA_KEYS, "reopen_sql": queries.DELTA_FULL_SQL}
    t0 = time.time()
    result = run_jvm(root, cp, plan, work)
    jvm_s = time.time() - t0
    t0 = time.time()
    execs = result["execs"]
    changed_rows = check_answers(workload, parts, execs, result["answers"])
    oracle_s = time.time() - t0

    kinds = {op["id"]: op["kind"] for op in parts["stream"]}
    kinds["reopen"] = "reopen"
    failed = [e for e in execs if "failure" in e]
    # end-to-end figures come from untraced stream time only
    plain = [e for e in execs if e["phase"] in ("stream", "untraced")]
    reads = [e for e in plain if kinds[e["id"]] in READ_KINDS]
    writes = [e for e in plain if kinds[e["id"]] in WRITE_KINDS]
    if not reads:
        fail("no read completed in the measured stream")
    lat = [e["ms"] for e in reads]
    wall_s = sum(e["ms"] for e in plain) / 1000.0
    e2e = {
        "setup_s": (stats.median([s["total_ms"] for s in result["setup"]]) / 1000.0,
                    len(result["setup"])),
        "queries_per_s": (sum(1 for e in reads if "failure" not in e) / wall_s, len(reads)),
        "latency_p50_ms": (stats.percentile(lat, 50), len(lat)),
    }
    # reported by name, outside the gated metrics: they exist on one
    # workload only (or are 0 on current code)
    extra = {"failed_ratio": (len(failed) / len(execs), "ratio", len(execs))}
    if workload == "tpch_warm":
        extra["cache_mb"] = (result["cache_mb"], "MB", 1)
    else:
        wms = [e["ms"] for e in writes]
        dfacts = delta_log_facts(result["table_dir"])
        extra.update({
            "commits_per_s": (sum(1 for e in writes if "failure" not in e) / (sum(wms) / 1000.0),
                              "1/s", len(wms)),
            "commit_p50_ms": (stats.percentile(wms, 50), "ms", len(wms)),
            "write_amp": (dfacts["rows_written"] / max(1, changed_rows), "ratio", len(wms)),
            "stored_mb": (dfacts["stored_bytes"] / 1e6, "MB", 1)})

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    log(f"{workload} seed={seed} trace={trace} inputs_gen_s={gen_s:.2f} "
        f"engine_run_s={jvm_s:.1f} oracle_s={oracle_s:.2f} cores={cores}")
    for name, (v, n) in e2e.items():
        log(f"{workload} {name} = {v:.6g} {units[name]} (n={n})")
    for name, (v, unit, n) in extra.items():
        log(f"{workload} {name} = {v:.6g} {unit} (n={n})")
    tail = stats.tail_percentile(len(lat))
    if tail is None:
        log(f"{workload} no tail percentile has 10 samples beyond it (n={len(lat)})")
    else:
        log(f"{workload} latency_p{tail:g}_ms = {stats.percentile(lat, tail):.6g} ms "
            f"(n={len(lat)}, highest percentile with 10 samples beyond it)")
    log(f"{workload} setup reps: " + ", ".join(
        f"session {s['session_ms']:.0f} ms + register {s['register_ms']:.0f} ms"
        for s in result["setup"]))
    log(f"{workload} dispatch.probe_job_ms before={result['probe_before_ms']:.3f} "
        f"after={result['probe_after_ms']:.3f}")
    per_type = {}
    for e in reads:
        per_type.setdefault(kinds[e["id"]] if workload == "delta_rw" else e["id"].split(".")[0],
                            []).append(e["ms"])
    log(f"{workload} read medians (ms): " + " ".join(
        f"{k}={stats.median(v):.0f}" for k, v in sorted(per_type.items())))
    for e in failed[:10]:
        log(f"{workload} FAILED {e['failure']}")

    if not trace:
        metrics = {k: v for k, (v, _) in e2e.items()}
    else:
        with open(result["spans_file"]) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        metrics = layer_metrics(execs, spans, kinds)
        setups = result["setup"]
        delta = {"files_written": 0.0, "files_removed": 0.0, "bytes_written_mb": 0.0,
                 "commit_p50_ms": 0.0, "commits_per_s": 0.0, "write_amp": 0.0,
                 "stored_mb": 0.0}
        if workload == "delta_rw":
            c = max(1, dfacts["commits"])
            delta.update(files_written=dfacts["files_added"] / c,
                         files_removed=dfacts["files_removed"] / c,
                         bytes_written_mb=dfacts["bytes_added"] / 1e6 / c,
                         **{k: extra[k][0] for k in
                            ("commit_p50_ms", "commits_per_s", "write_amp", "stored_mb")})
        traced = [e["ms"] for e in execs
                  if e["phase"] == "traced" and kinds[e["id"]] in READ_KINDS]
        metrics.update({f"delta.{k}": v for k, v in delta.items()})
        metrics.update({
            "session.start_ms": stats.median([s["session_ms"] for s in setups]),
            "cache.build_ms": (stats.median([s["register_ms"] for s in setups])
                               if workload == "tpch_warm" else 0.0),
            "cache.mb": result["cache_mb"],
            "dispatch.probe_job_ms": (result["probe_before_ms"] + result["probe_after_ms"]) / 2,
            "trace.overhead_pct": (100.0 * (stats.median(traced) / stats.median(lat) - 1)
                                   if traced else 0.0)})
        trace_dir = os.path.join(data_root, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        spans_out = os.path.join(trace_dir, f"{workload}-seed{seed}.spans.jsonl")
        shutil.copy(result["spans_file"], spans_out)
        log(f"{workload} spans: {os.path.relpath(spans_out, root)} ({len(spans)} spans); "
            f"tracing overhead on read p50: {metrics['trace.overhead_pct']:+.1f}%")
        for k in sorted(metrics):
            log(f"{workload} {k} = {metrics[k]:.6g} {units[k]}")
    shutil.rmtree(work, ignore_errors=True)
    wanted = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    if sorted(metrics) != sorted(wanted):
        fail(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(wanted)}")
    return {"correct": not failed, "attempted": len(execs), "failed": len(failed),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in wanted}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala) are missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = ensure_build(root)
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {w: run_workload(root, cp, spec, w, args.seed, args.seconds, args.trace)
               for w in workloads}
    if len(results) == 1:
        out = results[workloads[0]]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": v for w, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
