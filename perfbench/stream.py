"""The stream workload's side of `run.py`: starts the producer, runs
the harness in stream mode and turns its progress reports, the
producer's manifest and the reader's samples into metrics."""
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
EVENTS_PER_FILE = 120
BACKLOG_FILES = 60
FILES_PER_TRIGGER = 10
# Offered rate in phase 2, 420 events/s: about half the drain rate
# measured when the benchmark was defined (about 820 events/s). A
# micro-batch then takes about 1 s whatever its size, so the file rate is
# also well under what 10 files per trigger can carry, and the backlog
# stays bounded.
LIVE_EVENTS_PER_FILE = 120
FILES_PER_S = 3.5
READS_PER_S = 4.0
WARM_FILES = 40
STALE_BEFORE = "2023-12-31 22:00:00"   # 2 h before the stream's first event
SINKS = ("tumbling", "stats", "upserts", "dgim")


def producer(spool, seed, *args):
    return [sys.executable, os.path.join(HERE, "producer.py"), spool, str(seed), *args]


def read_manifest(base):
    with open(os.path.join(base, "manifest.jsonl")) as f:
        return [json.loads(l) for l in f]


def batches(progress):
    """Per sink: its batches with data, in order, with cumulative rows."""
    out = {}
    for q in SINKS:
        seen = {}
        for p in progress:
            if p["query"] == q and p["rows"] > 0:
                seen[p["batch"]] = p
        cum = 0
        rows = []
        for b in sorted(seen):
            cum += seen[b]["rows"]
            rows.append(dict(seen[b], cum=cum))
        out[q] = rows
    return out


def commit_covering(rows, line_end):
    """Commit time of the first batch whose cumulative rows reach line_end."""
    for b in rows:
        if b["cum"] >= line_end:
            return b["commit"]
    return None


def event_latencies(manifest, by_sink, first_file):
    """Latency in ms of each phase-2 file (all hold the same number of
    events): from its due time to the commit of the last sink's first
    batch that reflects it."""
    out = []
    for f in manifest[first_file:]:
        end = f["first_line"] + f["lines"]
        commits = [commit_covering(by_sink[q], end) for q in SINKS]
        if None in commits:
            continue
        out.append(max(commits) - f["due_ms"])
    return out


def run(a, classes, work, tally, jvm):
    warm_base, base = os.path.join(work, "warm"), os.path.join(work, "stream")
    out = os.path.join(work, "out")
    t = time.time()
    subprocess.run(producer(os.path.join(warm_base, "spool"), a.seed + 1_000_003, "warm",
                            str(WARM_FILES), str(EVENTS_PER_FILE)), check=True)
    prod = subprocess.Popen(producer(os.path.join(base, "spool"), a.seed, "stream", str(BACKLOG_FILES),
                                     str(EVENTS_PER_FILE), str(LIVE_EVENTS_PER_FILE), str(FILES_PER_S),
                                     os.path.join(base, "go")))
    try:
        while not os.path.exists(os.path.join(base, "ready")):
            if prod.poll() is not None:
                raise RuntimeError("producer exited before writing its backlog")
            time.sleep(0.01)
        gen_s = time.time() - t
        backlog_lines = sum(f["lines"] for f in read_manifest(base))
        res, launch = jvm(classes, work, [
            "stream", "--out", out, "--stream-dir", base,
            "--warm-spool", os.path.join(warm_base, "spool"), "--seconds", str(a.seconds),
            "--reads-per-s", str(READS_PER_S), "--files-per-trigger", str(FILES_PER_TRIGGER),
            "--backlog-lines", str(backlog_lines), "--stale-before", STALE_BEFORE,
            "--trace", str(a.trace)])
        prod.wait(timeout=30)
    finally:
        if prod.poll() is None:
            prod.kill()
        prod.wait()
    manifest = read_manifest(base)
    by_sink = batches(res["progress"])

    for what, why in res["failures"].items():
        print(f"[perfbench] {what}: {why}", file=sys.stderr)
    tally.attempted += len(res["reads"]) + sum(len(b) for b in by_sink.values())
    tally.fail("stream error", len(res["failures"]))
    for c in res["checks"]:
        tally.add(c["served_only"] == 0 and c["twin_only"] == 0,
                  f"{c['table']}: served table differs from its batch twin")
    total_lines = manifest[-1]["first_line"] + manifest[-1]["lines"]
    for q in SINKS:
        tally.add(bool(by_sink[q]) and by_sink[q][-1]["cum"] == total_lines,
                  f"{q}: did not ingest every line")

    drain_end = max(commit_covering(by_sink[q], backlog_lines) or res["drain_seen"] for q in SINKS)
    drain_s = (drain_end - res["drain_start"]) / 1000
    lat = event_latencies(manifest, by_sink, BACKLOG_FILES)
    read_ms = [r["end"] - r["due"] for r in res["reads"] if r["ok"]]
    setup_s = gen_s + (res["session_ready_ms"] - launch) / 1000 + res["warm_s"]
    info = {"setup parts s": {"producer": round(gen_s, 3),
                              "jvm+session": round((res["session_ready_ms"] - launch) / 1000, 3),
                              "warm": round(res["warm_s"], 3)},
            "backlog events": backlog_lines, "events": total_lines,
            "latency samples": len(lat), "read samples": len(read_ms),
            "checks": res["checks"]}
    if not a.trace:
        return {
            "pass_wall_s": drain_s, "pass_cpu_s": res["drain_cpu_s"],
            "op_p50_ms": stats.percentile(lat, 50)[0],
            "op_p90_ms": stats.percentile(lat, 90)[0],
            "setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"],
        }, info
    rows = [b for q in SINKS for b in by_sink[q]]
    mean = lambda k: sum(b[k] for b in rows) / len(rows) if rows else 0.0
    written = [(f["written_ms"], f["first_line"] + f["lines"]) for f in manifest]
    lag = 0
    for b in rows:
        done = max((n for w, n in written if w <= b["commit"]), default=0)
        lag = max(lag, done - b["cum"])
    last = {q: by_sink[q][-1] for q in SINKS if by_sink[q]}
    return {
        "streaming.batches": len(rows), "streaming.batch_ms": mean("trigger_ms"),
        "streaming.add_batch_ms": mean("add_batch_ms"), "streaming.offset_ms": mean("offset_ms"),
        "streaming.plan_ms": mean("plan_ms"), "streaming.commit_ms": mean("commit_ms"),
        "streaming.rows_per_batch": mean("rows"),
        "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
        "streaming.state_bytes": sum(b["state_bytes"] for b in last.values()),
        "streaming.state_commit_ms": mean("state_commit_ms"),
        "streaming.late_dropped": sum(b["late_dropped"] for b in rows),
        "streaming.lag_events": lag,
        "stream.drain_eps": backlog_lines / drain_s,
        "stream.event_p99_ms": stats.percentile(lat, 99)[0],
        "stream.read_p50_ms": stats.percentile(read_ms, 50)[0],
        "stream.read_p90_ms": stats.percentile(read_ms, 90)[0],
        "stream.reads_missed": res["reads_due"] - len(res["reads"]),
        "stream.producer_late_ms": max(f["written_ms"] - f["due_ms"] for f in manifest[BACKLOG_FILES:]),
        "host.calib_s": stats.median(res["calib_s"]),
        "scheduler.jobs": res["jobs"], "scheduler.stages": len(res["stages"]),
        **stats.stage_sums(res["stages"]),
    }, info
