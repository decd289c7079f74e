#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine and the harness
(`perfbench/scala`) with the Scala compiler shipped in Spark's jars,
generates the workload's inputs from the seed, runs the harness in one
JVM, checks the outputs, and prints as its last line one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

# One or two queries from each of the nine light families, chosen for
# per-query fixed cost (construction, planning, stage cadence). The list
# is fixed, so every seed times the same work. `pass_s` is a pass's wall
# time when the benchmark was defined: a run times the fewest whole
# passes that cover --seconds at that pace, at least 2, so that both
# commits of a comparison time the same work.
WORKLOADS = {
    "light_sf0.01": dict(kind="batch", sf=0.01, queries=[
        "q1_pricing_summary", "q2_filter_project", "q13_asof_join", "eco_window_counts",
        "eco_distinct_users", "eco_dgim_exact", "eco_graph_nodes", "gen_events",
        "llm_host_rank", "sink_jsonl", "llm_media_decode"], pass_s=2.8),
    "stream_ingest": dict(kind="stream"),
}
END_TO_END = {"pass_wall_s": "s", "pass_cpu_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
              "setup_s": "s", "peak_rss_mb": "MB"}
FAMILIES = ["relational", "temporal-join", "eco-aggregate", "sketch", "graph",
            "parse-generate", "llm-corpus", "multimodal", "sink-layout"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
CORES = max(1, min(4, os.cpu_count() or 1))
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    found = sorted(glob.glob(os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "*.jar")))
    if not found:
        raise SystemExit("no Spark jars under $SPARK_HOME/jars")
    return found


def build(root, build_dir):
    """Compile the engine and the harness into <build_dir>/classes,
    unless the sources are unchanged since the last build."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SystemExit("no engine sources under src/main/scala: run from the repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(spark_jars())
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} Scala files")
    t = time.time()
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile], check=True)
    log(f"compiled in {time.time() - t:.1f} s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def jvm(classes, work, args):
    """Run the harness; returns (result dict, launch epoch ms)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    # a fixed-size young generation, wholly touched after its first
    # collection: peak RSS then moves with what the engine promotes and
    # retains, not with how an adaptive collector sizes the heap
    cmd = ["java", *opens, "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-Xms3g", "-Xmx3g", "-Xmn512m",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dderby.system.home=" + tmp,
           "-cp", classes + ":" + os.path.join(os.path.dirname(spark_jars()[0]), "*"),
           "graft.perfbench.Harness", *args, "--work", work, "--cores", str(CORES)]
    logf = os.path.join(work, "jvm.log")
    launch = time.time() * 1000
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    res_path = os.path.join(args[args.index("--out") + 1], "result.json")
    if p.returncode != 0 or not os.path.exists(res_path):
        with open(logf) as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-40:]
        raise RuntimeError(f"harness exited with {p.returncode}:\n" + "\n".join(tail))
    with open(res_path) as f:
        return json.load(f), launch


def generate(work, seed, wl):
    """Generate the inputs; returns (dir, seconds)."""
    import gen
    d = os.path.join(work, "data")
    t = time.time()
    gen.generate(d, seed, wl["sf"])
    return d, time.time() - t


def check_batch(res, out, tally):
    """Digest equality across the two warm-up passes, then the DuckDB
    oracle on the second."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from verify_compare import digest
    bad = []
    for q in res["queries"]:
        a, b = os.path.join(out, "warm", q), os.path.join(out, "check", q)
        if not (os.path.isdir(a) and os.path.isdir(b)):
            bad.append(f"{q}: no output")
            tally.add(False, f"{q}: no output")
            continue
        if not tally.add(digest(a) == digest(b), f"{q}: digest differs across passes"):
            bad.append(f"{q}: digest")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(res["data"], f"{t}.parquet")
        p = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]")
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    for o in res["oracle"]:
        q = o["query"]
        d = os.path.join(out, "check", q)
        try:
            exp = con.execute(o["sql"]).fetchdf()
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            got = pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else exp.iloc[0:0]
            g, e = canon(got), canon(exp)
            if list(g.columns) != list(e.columns) or len(g) != len(e):
                raise AssertionError(f"columns {list(g.columns)} vs {list(e.columns)}, "
                                     f"rows {len(g)} vs {len(e)}")
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False,
                                          rtol=0, atol=1e-9)
            ok = True
        except Exception as ex:  # a mismatch or an oracle error
            log(f"{q}: oracle mismatch: {str(ex)[:300]}")
            ok = False
        if not tally.add(ok, f"{q}: differs from its DuckDB oracle"):
            bad.append(f"{q}: oracle")
    return bad


def batch_end_to_end(res, setup_s):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = stats.query_medians([(s["query"], s["wall_s"] * 1000)
                               for s in res["samples"] if not s["traced"]])
    p50, n = stats.percentile(lat, 50)
    p90, _ = stats.percentile(lat, 90)
    return {
        "pass_wall_s": stats.median([p["wall_s"] for p in passes]),
        "pass_cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "op_p50_ms": p50, "op_p90_ms": p90,
        "setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"],
    }, {"latency queries": n, "passes": len(passes),
        "pass wall s": [round(p["wall_s"], 3) for p in passes],
        "pass cpu s": [round(p["cpu_s"], 3) for p in passes]}


def batch_layers(res):
    """Per-layer numbers from the traced passes, per pass."""
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    n = max(1, len(traced))
    spans = {s["id"]: s for s in res["spans"]}
    stages = {st["stage"]: st for st in res["stages"]}
    jobs_by_q = {}
    for j in res["jobs"]:
        if j["group"] in spans:
            jobs_by_q.setdefault(j["group"], []).append(j)
    plans = {p["execution"]: p for p in res["plans"]}
    m = {k: 0.0 for k in LAYER_BATCH}
    m.update({f"exec.cpu_s.{f}": 0.0 for f in FAMILIES})
    task_ms_exec = exec_wall = 0.0
    ranking = {}
    for qid, qs in spans.items():
        if qs["name"] != "query":
            continue
        build, plan, ex = spans[qid + "/build"], spans[qid + "/plan"], spans[qid + "/execute"]
        qjobs = jobs_by_q.get(qid, [])
        bjobs = [j for j in qjobs if build["start"] <= j["start"] <= build["end"]]
        ejobs = [j for j in qjobs if j not in bjobs]
        # a job also lists the stages it skipped because an earlier job
        # of the query ran them: count every stage once
        qstages = [stages[s] for s in {s for j in qjobs for s in j["stages"]} if s in stages]
        estages = [stages[s] for s in {s for j in ejobs for s in j["stages"]} if s in stages]
        m["operators.build_ms"] += build["end"] - build["start"]
        m["operators.build_jobs"] += len(bjobs)
        m["catalyst.plan_ms"] += plan["end"] - plan["start"]
        execs = {j["execution"] for j in qjobs if j["execution"]}
        m["catalyst.exchanges"] += sum(plans[e]["exchanges"] for e in execs if e in plans)
        m["catalyst.aqe_replans"] += sum(plans[e]["aqe_replans"] for e in execs if e in plans)
        m["scheduler.jobs"] += len(qjobs)
        m["scheduler.stages"] += len(qstages)
        m["scheduler.gap_ms"] += stats.self_time(
            (ex["start"], ex["end"]), [(st["start"], st["end"]) for st in qstages])
        m["span.build_self_ms"] += stats.self_time(
            (build["start"], build["end"]), [(j["start"], j["end"]) for j in bjobs])
        m["span.execute_self_ms"] += stats.self_time(
            (ex["start"], ex["end"]), [(j["start"], j["end"]) for j in ejobs])
        for j in qjobs:
            m["span.job_self_ms"] += stats.self_time(
                (j["start"], j["end"]),
                [(stages[s]["start"], stages[s]["end"]) for s in j["stages"] if s in stages])
        task_ms_exec += sum(st["task_ms"] for st in estages)
        exec_wall += ex["end"] - ex["start"]
        sums = stats.stage_sums(qstages)
        for k, v in sums.items():
            m[k] += v
        m[f"exec.cpu_s.{qs['family']}"] += sums["exec.cpu_s"]
        ranking.setdefault(qs["query"], []).append(qs["end"] - qs["start"] - sums["exec.task_ms"])
    for k in m:
        m[k] /= n
    m["scheduler.busy_cores"] = task_ms_exec / exec_wall if exec_wall else 0.0
    m["host.calib_s"] = stats.median(res["calib_s"])
    m["trace.overhead_s"] = (stats.median([p["wall_s"] for p in traced])
                             - stats.median([p["wall_s"] for p in untraced]))
    rank = sorted(((stats.median(v), q) for q, v in ranking.items()), reverse=True)
    return m, rank


LAYER_BATCH = [
    "operators.build_ms", "operators.build_jobs", "catalyst.plan_ms", "catalyst.exchanges",
    "catalyst.aqe_replans", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.gap_ms", "scheduler.busy_cores", "exec.cpu_s", "exec.task_ms", "exec.gc_ms",
    "exec.spill_bytes", "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.fetch_wait_ms", "sources.input_bytes", "sources.input_rows",
    "sources.output_bytes", "span.build_self_ms", "span.execute_self_ms", "span.job_self_ms"]


STREAM_LAYERS = [
    "streaming.batches", "streaming.batch_ms", "streaming.add_batch_ms", "streaming.offset_ms",
    "streaming.plan_ms", "streaming.commit_ms", "streaming.rows_per_batch",
    "streaming.state_rows", "streaming.state_bytes", "streaming.state_commit_ms",
    "streaming.late_dropped", "streaming.lag_events", "stream.drain_eps",
    "stream.event_p99_ms", "stream.read_p50_ms", "stream.read_p90_ms",
    "stream.reads_missed", "stream.producer_late_ms"]
PER_LAYER = (LAYER_BATCH + [f"exec.cpu_s.{f}" for f in FAMILIES]
             + ["host.calib_s", "trace.overhead_s"] + STREAM_LAYERS)


def run_batch(wl, a, classes, work, tally):
    data, gen_s = generate(work, a.seed, wl)
    out = os.path.join(work, "out")
    args = ["batch", "--data", data, "--out", out,
            "--seed", str(a.seed), "--passes", str(max(2, math.ceil(a.seconds / wl["pass_s"]))),
            "--trace", str(a.trace), "--queries", ",".join(wl["queries"])]
    res, launch = jvm(classes, work, args)
    session_ready = res["session_ready_ms"] - launch
    setup_s = gen_s + session_ready / 1000 + res["warm_s"]
    for what, why in res["failures"].items():
        log(f"{what}: {why}")
    # timed runs that failed were never recorded as samples
    timed_failed = sum(1 for w in res["failures"] if w.startswith("p"))
    # plus the three warm-up passes
    tally.attempted += len(res["samples"]) + timed_failed + 3 * len(res["queries"])
    tally.fail("query error", len(res["failures"]))
    bad = check_batch(res, out, tally)
    info = {"queries": len(res["queries"]), "catalog sizes": res["catalog_sizes"], "setup parts s": {
                "generate": round(gen_s, 3), "jvm+session": round(session_ready / 1000, 3),
                "warm": round(res["warm_s"], 3)},
            "check failures": bad,
            "warm s": {q: round(v, 2) for q, v in res["warm_query_s"].items()},
            "check s": {q: round(v, 2) for q, v in res["check_query_s"].items()},
            "median s": {q: round(stats.median([s["wall_s"] for s in res["samples"] if s["query"] == q]), 2)
                         for q in res["queries"]}}
    if a.trace:
        m, rank = batch_layers(res)
        print("query                         median(wall - sum task time) ms")
        for v, q in rank:
            print(f"  {q:28s} {v:10.1f}")
        return m, info
    m, extra = batch_end_to_end(res, setup_s)
    info.update(extra)
    return m, info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(root, build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    wl = WORKLOADS[a.workload]
    tally = stats.Tally()
    try:
        if wl["kind"] == "batch":
            m, info = run_batch(wl, a, classes, work, tally)
        else:
            import stream
            m, info = stream.run(a, classes, work, tally, jvm)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info["failed ratio"] = tally.ratio
    print(json.dumps({"workload": a.workload, "seed": a.seed, **info}))
    if a.trace:
        metrics = {k: {"value": m.get(k, 0.0), "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_eps", "1/s"),
                         ("busy_cores", "cores")):
        if name.endswith(suffix):
            return unit
    if ".cpu_s." in name:
        return "s"
    return "count"


if __name__ == "__main__":
    main()
