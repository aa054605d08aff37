#!/usr/bin/env python3
"""Workload benchmark for the graft lake.

    python3 perfbench/run.py --workload {ingest,query,upsert,curate} \\
        --seed N --seconds S --trace {0,1}

Builds the engine and the harness from source (once per checkout), makes
the workload's inputs from the seed, runs one JVM with a tuned local[N]
session and one closed-loop client, checks every answer, and prints every
metric by name with its unit. The last stdout line is the JSON result:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
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
import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORK = os.path.join(HERE, ".work")
# two cores for tasks leave the rest to the driver thread, JIT and GC,
# which this driver-bound engine waits on
CPUS = min(2, os.cpu_count() or 1)
HEAP = "2g"
# every JVM of one invocation must end by this time (set after the build:
# a run must end within 180 s, the first one in a checkout also builds)
deadline = time.time() + 170

# Ops per run = seconds x nominal rate, so every run of a workload does the
# same work regardless of speed. The counts are set by what the tail
# needs and by the run-to-run spread, not by the clock: at 20 s, 120
# queries (about 18 s on 4 cores: a run's median over a mix of five kinds
# of differing cost, with seeded users, ranges and snapshots, spread 7-9 %
# across seeds at 80 queries and 11-16 % at 40) and 23 dedup batches
# (22 samples, about 52 s: a batch costs ~2.2 s of mostly fixed
# per-batch work whatever its size).
RATE = {"ingest": 1.2, "query": 6.0, "upsert": 0.12, "curate": 1.15}

WORKLOADS = {
    # maintenance every few commits: compaction at 24 live files,
    # manifest consolidation at 8 parts, retention of the newest 16
    # snapshots
    "ingest": dict(warm_batches=6, rows=2000, autocompact_files=24,
                   automanifest_parts=8, autoexpire_keep=16),
    # 10 untimed rounds of every kind: after 2, the first third of the
    # timed queries ran ~10 % slower than the last (Spark's code is still
    # being JIT-compiled), which widened the spread across runs
    "query": dict(history_batches=3, rows=4000, delete_every=1, delete_keys=60, warm_rounds=10),
    "upsert": dict(base_rows=20000, warm_steps=2, cdc_rows=400, new_share=0.3,
                   delete_every=2, delete_keys=40),
    # compaction and manifest consolidation on the results and band
    # tables, each firing every few batches
    "curate": dict(corpus_docs=200, warm_batches=2, docs_per_batch=25,
                   exact_share=0.1, near_share=0.1, autocompact_files=24,
                   automanifest_parts=8),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def generate(workload, seed, n_ops, inputs):
    p = WORKLOADS[workload]
    if workload == "ingest":
        return gen.gen_ingest(seed, inputs, p["warm_batches"], n_ops, p["rows"])
    if workload == "query":
        return gen.gen_query(seed, inputs, p["history_batches"], p["rows"], p["delete_every"],
                             p["delete_keys"], p["warm_rounds"], n_ops)
    if workload == "upsert":
        return gen.gen_upsert(seed, inputs, p["base_rows"], p["warm_steps"], n_ops,
                              p["cdc_rows"], p["new_share"], p["delete_every"], p["delete_keys"])
    return gen.gen_curate(seed, inputs, p["corpus_docs"], p["warm_batches"], n_ops,
                          p["docs_per_batch"], p["exact_share"], p["near_share"])


def run_jvm(classpath, run_dir, plan, flags):
    plan_path = os.path.join(run_dir, "plan.json")
    rec_path = os.path.join(run_dir, "record.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is touched at start-up (set-up time), not page by page in
    # the timed region, where first-touch faults cost 4-5x a warm write
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.ui.enabled=false", "-XX:-UsePerfData"]
           + flags + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", plan_path, rec_path])
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed ({code})")
    with open(rec_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def op_latencies(workload, rec):
    """(latencies ms, items) of the timed ops."""
    if workload in ("ingest", "curate"):
        d = [x for x in rec["drains"]][-1]
        prog = M.in_window(rec["progress"], d["t0"] - 1, d["t1"] + 1)
        lat, items = M.batch_latencies(d["t0"], prog)
        # the first batch also pays the drain's start-up (streaming.start_ms
        # in a traced run): its items count, its latency is no sample
        return lat[1:], items
    ok = [o for o in rec["ops"] if o["ok"]]
    return [o["t1"] - o["t0"] for o in ok], [o["items"] for o in ok]


def end_to_end(workload, gen_out, rec, setup_s):
    lat, items = op_latencies(workload, rec)
    tail, pct, n = M.tail(lat)
    wall_s = (rec["timed"]["t1"] - rec["timed"]["t0"]) / 1000.0
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_tail_ms": (tail, "ms"),
        "items_per_s": (sum(items) / wall_s, "1/s"),
        "space_amp": (M.space_amp(rec["lake"], gen_out["input_bytes"]), "ratio"),
        "retained_heap_mb": (rec["heap_mb"], "MB"),
    }, {"tail_percentile": round(pct, 2), "samples": n, "timed_wall_s": round(wall_s, 3)}


def per_layer(workload, rec, untraced_p50):
    t0, t1 = rec["timed"]["t0"], rec["timed"]["t1"]
    tr = rec["trace"]
    jobs = [j for j in tr["jobs"] if t0 <= j["start_ms"] <= t1]
    spans = [s for s in tr["spans"] if s["t0"] >= t0 and s["t1"] <= t1]
    plans = M.in_window(tr["plans"], t0, t1)
    progress = M.in_window(rec["progress"], t0, t1)
    # stack samples of the client threads attribute jobs and driver time
    period = tr["sample_period_ms"]
    origins = M.job_origins(jobs, tr["samples"])
    for j in jobs:
        j["module"], j["frame"], j["maint"] = origins[j["id"]]
    jspans = M.job_spans(jobs, spans)
    lat, _ = op_latencies(workload, rec)
    n_ops = max(1, len(lat))
    batches = max(1, len([p for p in progress if p["rows"] > 0]))
    commits = rec["commits_timed"]  # lake commits made in the timed region
    by_mod = {}
    for j in jobs:
        by_mod.setdefault(j["module"], []).append(j)

    def jsum(mod, key):
        return sum(j[key] for j in by_mod.get(mod, []))

    def jtime(mod, pred=lambda j: True):
        return M.union_ms([(j["start_ms"], j["end_ms"]) for j in by_mod.get(mod, []) if pred(j)])

    # streaming: drain call -> first trigger, trigger time, trigger overhead
    starts = []
    for s in spans:
        if s["module"] == "graft.streaming":
            firsts = [p["start_ms"] for p in progress if s["t0"] <= p["start_ms"] <= s["t1"]]
            if firsts:
                starts.append(min(firsts) - s["t0"])
    trig = [p["durations"].get("triggerExecution", 0) for p in progress if p["rows"] > 0]
    over = [p["durations"].get("triggerExecution", 0) - p["durations"].get("addBatch", 0)
            for p in progress if p["rows"] > 0]
    # a lake commit = its writer and lake jobs plus the driver time sampled
    # in graft.lake / graft.writer frames; its gap is the sampled graft.lake
    # driver time no job covers (manifest, CAS, footers)
    drv = M.driver_ms(tr["samples"], jobs, t0, t1, period)
    commit_job_ms = M.union_ms([(j["start_ms"], j["end_ms"]) for j in jobs
                                if j["module"] in ("graft.lake", "graft.writer")])
    commit_ms = commit_job_ms + drv.get("graft.lake", 0.0) + drv.get("graft.writer", 0.0)
    maint = lambda j: j["maint"]  # noqa: E731
    stats = lambda j: "Stats" in j["frame"]  # noqa: E731  (LakeTable scanStats / footerStats)
    refresh = [s["t1"] - s["t0"] for s in spans if s["name"] == "refresh_mv"]
    modes = [o.get("mv_mode") for o in rec["ops"] if o.get("mv_mode")]
    queries = [o for o in rec["ops"] if o["kind"].startswith("query:")] or \
        [o for o in rec["ops"] if o["kind"] == "step"]
    rows_returned = sum(len(o.get("answer") or []) for o in queries)
    # scan work of the read statements: jobs started inside a query span
    q_spans = [s for s in spans if s["name"].startswith("sql:") and s["name"] != "sql:delete"]
    q_jobs = [j for j in jobs if any(s["t0"] <= j["start_ms"] <= s["t1"] for s in q_spans)]
    plan_ms = [p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"] for p in plans]
    hits = [o["mv_hit"] for o in rec["ops"] if "mv_hit" in o]
    selfs = M.self_times(spans + jspans)
    lake_end = rec["lake"]
    job_union = M.union_ms([(j["start_ms"], j["end_ms"]) for j in jobs])
    wall = t1 - t0
    trace_p50 = statistics.median(lat) if lat else 0.0
    out = {
        "streaming.start_ms": (M.median_or_zero(starts), "ms"),
        "streaming.trigger_ms": (M.median_or_zero(trig), "ms"),
        "streaming.overhead_ms": (M.median_or_zero(over), "ms"),
        "writer.save_ms": (M.ratio(jtime("graft.writer"), commits), "ms"),
        "writer.tasks_per_commit": (M.ratio(jsum("graft.writer", "tasks"), commits), "count"),
        "writer.files_per_commit": (rec["lake"][0]["files_per_commit"], "count"),
        "writer.shuffle_bytes_per_commit": (M.ratio(jsum("graft.writer", "shuffle_write"), commits), "B"),
        "lake.commit_ms": (M.ratio(commit_ms, commits), "ms"),
        "lake.commit_gap_ms": (M.ratio(drv.get("graft.lake", 0.0), commits), "ms"),
        # commit-time stats: stats jobs plus sampled driver footer reads
        "lake.stats_job_ms": (M.ratio(jtime("graft.lake", stats) + period * sum(
            1 for s in tr["samples"] if t0 <= s["t"] <= t1 and "Stats" in s["frame"]), commits), "ms"),
        "lake.maint_ms": (M.union_ms([(j["start_ms"], j["end_ms"]) for j in jobs if maint(j)]), "ms"),
        "lake.maint_fired": (rec["maint_fired"], "count"),
        "lake.mv_refresh_ms": (M.median_or_zero(refresh), "ms"),
        "lake.mv_incremental_ratio": (M.ratio(sum(m != "full" for m in modes), len(modes)), "ratio"),
        "lake.live_files": (sum(t["live_files"] for t in lake_end), "count"),
        "lake.delete_files": (sum(t["delete_files"] for t in lake_end), "count"),
        "lake.snapshots": (sum(t["snapshots"] for t in lake_end), "count"),
        "lake.meta_bytes": (sum(t["meta_bytes"] for t in lake_end), "B"),
        "lake.data_bytes": (sum(t["total_bytes"] - t["meta_bytes"] for t in lake_end), "B"),
        "sources.plan_ms": (M.median_or_zero(plan_ms), "ms"),
        "sources.scan_tasks_per_query": (M.ratio(sum(j["tasks"] for j in q_jobs), len(queries)), "count"),
        "sources.rows_read_per_row_returned": (M.ratio(sum(j["records_read"] for j in q_jobs), rows_returned), "ratio"),
        "sources.bytes_read_per_query": (M.ratio(sum(j["bytes_read"] for j in q_jobs), len(queries)), "B"),
        "plans.rewrite_hit_ratio": (M.ratio(sum(bool(h) for h in hits), len(hits)), "ratio"),
        # the operators' shingling, MinHash and Jaccard kernels run (as
        # generated code) inside the dedup gate's jobs: probe, verify and
        # survivor jobs launched from DedupStream or the operators directly
        "operators.job_ms_per_batch": (M.union_ms([(j["start_ms"], j["end_ms"]) for j in jobs
                                                   if j["module"] == "graft.operators" or
                                                   "DedupStream" in j["frame"]]) / batches, "ms"),
        "spark.jobs_per_op": (len(jobs) / n_ops, "count"),
        "spark.stages_per_op": (sum(j["stages"] for j in jobs) / n_ops, "count"),
        "spark.tasks_per_op": (sum(j["tasks"] for j in jobs) / n_ops, "count"),
        "spark.job_union_ms_per_op": (job_union / n_ops, "ms"),
        "spark.driver_gap_ms_per_op": ((wall - job_union) / n_ops, "ms"),
        "spark.shuffle_bytes_per_op": (sum(j["shuffle_write"] for j in jobs) / n_ops, "B"),
        "jvm.gc_ms_per_op": (rec["gc_ms_timed"] / n_ops, "ms"),
        # process CPU (all threads) and JIT compile time: Spark's code is
        # still being compiled through the timed region, beside the work
        "jvm.cpu_ms_per_op": (rec["resources_timed"]["cpu_ms"] / n_ops, "ms"),
        "jvm.jit_ms_per_op": (rec["resources_timed"]["jit_ms"] / n_ops, "ms"),
        "spark.codegen_compiles_per_op": (rec["resources_timed"]["codegen_compiles"] / n_ops, "count"),
        "trace.op_p50_ms": (trace_p50, "ms"),
        "trace.overhead_ms": (0.0 if untraced_p50 is None else trace_p50 - untraced_p50, "ms"),
    }
    for mod in M.MODULES + ["spark", "harness"]:
        out[f"self.{mod}_ms_per_op"] = (selfs.get(mod, 0.0) / n_ops, "ms")
    for mod in M.MODULES + ["spark", "perfbench"]:
        out[f"driver.{mod}_ms_per_op"] = (drv.get(mod, 0.0) / n_ops, "ms")
    return out


# ---------------------------------------------------------------- main

def measure(args, classpath, trace, flags=None):
    """One run: generate, launch the harness, check. Returns
    (run directory, record, gen output, setup seconds, check results)."""
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={build.ARCHIVE}"]
    p = WORKLOADS[args.workload]
    n_ops = max(3, int(round(args.seconds * RATE[args.workload])))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    t_gen = time.time()
    g = generate(args.workload, args.seed, n_ops, os.path.join(run_dir, "inputs"))
    gen_s = time.time() - t_gen
    plan = {"workload": args.workload, "trace": trace, "cpus": CPUS, "work": run_dir,
            "gen": g, "params": p}
    t_launch = time.time()
    rec = run_jvm(classpath, run_dir, plan, flags)
    setup_s = gen_s + (rec["setup"]["warmup_ms"] / 1000.0 - t_launch)
    s = rec["setup"]
    rec["setup_breakdown_s"] = {"generate": round(gen_s, 3),
                                "jvm_and_session": round(s["session_ms"] / 1000.0 - t_launch, 3),
                                "fixture": round((s["fixture_ms"] - s["session_ms"]) / 1000.0, 3),
                                "warmup": round((s["warmup_ms"] - s["fixture_ms"]) / 1000.0, 3)}
    checker = {"ingest": checks.check_ingest, "query": checks.check_query,
               "upsert": checks.check_upsert, "curate": checks.check_curate}[args.workload]
    results, notes = checker(g, rec)
    rec["check_notes"] = notes
    return run_dir, rec, g, setup_s, results


def ensure_class_archive(classpath):
    """Dump the class-data archive once per build, from a short query run
    (its fixture also writes, deletes and builds an MV). Every later JVM maps
    the Spark and engine classes from it instead of loading and verifying
    them from jars, which otherwise costs 5-10 s of each run's set-up."""
    if os.path.exists(build.ARCHIVE):
        return
    tmp = build.ARCHIVE + ".tmp"
    ns = argparse.Namespace(workload="query", seed=0, seconds=1)
    run_dir = measure(ns, classpath, 0, [f"-XX:ArchiveClassesAtExit={tmp}"])[0]
    shutil.rmtree(run_dir)
    os.rename(tmp, build.ARCHIVE)


def untraced_baseline(workload, seed):
    """op_p50_ms of the untraced run of this workload and seed in this
    checkout, else the median over its other untraced runs, else None."""
    records = os.path.join(WORK, "records")
    own = os.path.join(records, f"{workload}-{seed}-t0.json")
    paths = [own] if os.path.exists(own) else [
        os.path.join(records, n) for n in os.listdir(records)
        if n.startswith(f"{workload}-") and n.endswith("-t0.json")]
    values = []
    for p in paths:
        with open(p) as f:
            values.append(json.load(f)["metrics"]["op_p50_ms"]["value"])
    return statistics.median(values) if values else None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    global deadline
    deadline = time.time() + 840  # a first run in a checkout also builds
    classpath = build.ensure_built()
    ensure_class_archive(classpath)
    deadline = time.time() + 170
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    base_key = os.path.join(WORK, "records", f"{args.workload}-{args.seed}")

    # a fresh untraced run would not fit the run's time limit beside the
    # traced one; without an earlier one the overhead reads 0
    untraced_p50 = untraced_baseline(args.workload, args.seed) if args.trace else None
    if args.trace and untraced_p50 is None:
        print("trace.overhead_ms: no untraced run of this workload in this checkout yet, reported as 0")

    run_dir, rec, g, setup_s, results = measure(args, classpath, args.trace)
    failed_ops = sum(not o["ok"] for o in rec["ops"]) + sum(not d["ok"] for d in rec["drains"])
    lat, _ = op_latencies(args.workload, rec)
    attempted = max(1, len(lat) + failed_ops) + len(results)
    failed = failed_ops + sum(not ok for _, ok, _ in results)

    e2e, info = end_to_end(args.workload, g, rec, setup_s)
    shown = per_layer(args.workload, rec, untraced_p50) if args.trace else e2e
    for name, ok, detail in results:
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")
    print(f"error_rate {failed / attempted:.6f} ({failed}/{attempted})")
    print("env " + json.dumps(rec["env"]))
    print("tail " + json.dumps(info))
    print("setup " + json.dumps(rec["setup_breakdown_s"]))
    print("timed_resources " + json.dumps(rec["resources_timed"]))
    print("notes " + json.dumps(rec["check_notes"]))
    for name, (v, unit) in shown.items():
        print(f"{name} {v:.6g} {unit}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in shown.items()}}
    with open(base_key + f"-t{args.trace}.json", "w") as f:
        json.dump(dict(result, env=rec["env"], tail=info), f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
