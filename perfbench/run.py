#!/usr/bin/env python3
"""Streaming-pipeline benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark
(perfbench/build.py, cached), has the load generator (perfbench/gen.py, its
own process) stage the workload's inputs from the seed, runs the JVM side
(perfbench/src) against them, checks every observation against the
generator's expectations and prints, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The line
before it records the environment. Workloads, metrics and their meaning are
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("ingest_backlog", "live_mixed")
REASONS = ("corrupt_json", "missing_required_field", "low_quality",
           "unparseable_timestamp")
QUERIES = ("eventSummary", "verificationCount", "healthCheck",
           "dashboardMetrics", "recentEvents")
# the metric each workload is built around, used for the tracing overhead
PRIMARY = {"ingest_backlog": ("ingest_events_per_s", "higher"),
           "live_mixed": ("commit_latency_p50_ms", "lower")}
HEAP = "2g"
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DEADLINE_S = 170


# --- statistics ---------------------------------------------------------------

def pct(values, p):
    """Linear-interpolated percentile; None when there are no values."""
    v = sorted(values)
    if not v:
        return None
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def med(values):
    return pct(values, 50)


# --- correctness ----------------------------------------------------------------

def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def rows_equal(got, want):
    if got is None or len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(close(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failures = []

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def check_sink(ops, stage, exp, tag):
    sink, dlq = stage.get("sink", {}), stage.get("dlq", {})
    want = exp["sink"]
    ops.check(stage.get("error") is None and sink.get("rows") == want["rows"]
              and sink.get("id_crc_sum") == want["id_crc_sum"],
              "%s sink: got %s want rows=%s crc=%s error=%s" % (
                  tag, sink, want["rows"], want["id_crc_sum"], stage.get("error")))
    got = {r: dlq.get(r, 0) for r in REASONS}
    ops.check("error" not in dlq and got == want["dlq"] and
              set(dlq) <= set(REASONS),
              "%s dead letters: got %s want %s" % (tag, dlq, want["dlq"]))


def check_windows(ops, stage, exp, tag):
    want = exp["windows"]
    table = {(r[0], r[1]): r for r in want["rows"]}
    got = stage.get("rows") or []
    keys = [(r[0], r[1]) for r in got]
    bad = [r for r in got if (r[0], r[1]) not in table
           or r[2] != table[(r[0], r[1])][2] or not close(r[3], table[(r[0], r[1])][3])]
    missing = [k for k in table if k[0] < want["emitted_before_us"] and k not in set(keys)]
    ops.check(stage.get("error") is None and not bad and not missing
              and len(keys) == len(set(keys)) and got,
              "%s windows: %d wrong, %d missing, %d emitted, error=%s" % (
                  tag, len(bad), len(missing), len(got), stage.get("error")))


def check_queries(ops, results, exp, tag):
    for r in results:
        if r.get("error") is not None:
            ops.check(False, "%s %s threw: %s" % (tag, r["name"], r["error"]))
        elif r.get("rows") is not None:
            want = exp["queries"][r["name"]]
            ops.check(rows_equal(r["rows"], want),
                      "%s %s answer differs: got %s want %s" % (
                          tag, r["name"], str(r["rows"])[:300], str(want)[:300]))
        else:
            ops.check(True, "")


# --- metrics ------------------------------------------------------------------

def commit_latencies(stage, due):
    """Per input file: commit time minus due time, in ms."""
    return [stage["file_commit_ms"][f] - d for f, d in due.items()
            if f in stage["file_commit_ms"]]


def throughput(stages):
    """Median over drains of input events / wall time of the drain."""
    return med([s["events"] / s["wall_s"] for s in stages]) if stages else None


def sustained_rate(stages):
    """Median over drains of the running query's processing rate: rows of
    the batches after the first (which carries the query's start) over
    the trigger time of those batches, the closing no-data batch with its
    watermark eviction included."""
    rates = []
    for s in stages:
        later = s["batches"][1:]
        ms = sum(b["durations"].get("triggerExecution", 0) for b in later)
        if ms > 0:
            rates.append(sum(b["rows"] for b in later) * 1000.0 / ms)
    return med(rates)


def batch_stats(batches):
    """Per-batch medians of the trigger's phases, over batches with input."""
    data = [b for b in batches if b["rows"] > 0]
    out = {}
    for key, name in (("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                      ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms"),
                      ("triggerExecution", "trigger_ms")):
        out["batch." + name] = med([b["durations"].get(key, 0) for b in data]) or 0
    return out


def self_times(spans):
    """Per layer: span time not covered by the span's children, in s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    per_layer = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            lo, hi = max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        own = max(0, s["end_us"] - s["start_us"] - covered)
        per_layer[s["layer"]] = per_layer.get(s["layer"], 0) + own / 1e6
    return per_layer


SPAN_LAYERS = ("stream.query", "stream.batch", "stream.source", "stream.plan",
               "stream.sink", "stream.commit", "analytics", "isolated.pipeline",
               "isolated.dlq", "isolated.sink")


def evaluate(workload, jvm, expect, manifest, live_log, launch_s):
    ops = Ops()
    stages = jvm["stages"]
    by = lambda kind, role=None: [s for s in stages if s["kind"] == kind and
                                  (role is None or s["role"] == role)]
    for s in stages:
        tag = "%s/%s/%s" % (s["kind"], s["role"], s.get("set"))
        exp = expect.get(s.get("set"), {})
        if s["kind"] == "ingest":
            check_sink(ops, s, exp, tag)
        elif s["kind"] == "window":
            check_windows(ops, s, exp, tag)
        elif s["kind"] == "queries":
            check_queries(ops, s["results"], exp, tag)
    single = jvm["extra"].get("single_core")
    if single is not None:
        ops.check(single.get("error") is None, "single-core drain: %s" % single.get("error"))

    m = {"setup_s": jvm["first_timed_ms"] / 1000.0 - launch_s}
    lay = {}
    if workload == "live_mixed":
        live = by("live")[0]
        check_sink(ops, live, expect["live"], "live")
        log = live_log or []
        for f, _due, _at in log:
            ops.check(f in live["file_commit_ms"], "live file %s never committed" % f)
        ops.check(len(log) == len(manifest["sets"]["live"]["files"]),
                  "generator renamed %d of %d live files" % (
                      len(log), len(manifest["sets"]["live"]["files"])))
        due = {f: d for f, d, _ in log}
        lat = commit_latencies(live, due)
        client = [r for r in live["client"] if r["start_ms"] < live["end_ms"]]
        for r in client:
            ops.check(r.get("error") is None, "live query %s threw: %s" % (r["name"], r.get("error")))
        ok = [r for r in client if r.get("error") is None]
        span_s = (live["end_ms"] - min([r["start_ms"] for r in ok] or [live["go_ms"]])) / 1000.0
        m["commit_latency_p50_ms"] = pct(lat, 50)
        m["commit_latency_p99_ms"] = pct(lat, 99)
        m["query_latency_p50_ms"] = pct([r["lat_ms"] for r in ok], 50)
        m["query_latency_p90_ms"] = pct([r["lat_ms"] for r in ok], 90)
        m["queries_per_s"] = len(ok) / span_s if span_s > 0 else None
        last = max(live["file_commit_ms"].values()) if live["file_commit_ms"] else None
        events = sum(1 for _ in log) * manifest["sets"]["live"]["events"] / max(1, len(
            manifest["sets"]["live"]["files"]))
        m["ingest_events_per_s"] = events / ((last - live["go_ms"]) / 1000.0) if last else None
        query_samples = ok
        ingest_stages = [live]
        stream_batches = live["batches"]
        def backlog(t):
            """Files renamed in by t and not yet committed at t."""
            return sum(1 for f, _d, at in log
                       if at <= t and live["file_commit_ms"].get(f, 1 << 62) > t)
        lay["source.backlog_files_end"] = backlog(live["end_ms"])
        lay["source.backlog_files_mid"] = backlog((live["go_ms"] + live["end_ms"]) // 2)
        lags = [at - d for _f, d, at in log]
        lay["gen.lag_p99_ms"] = pct(lags, 99) or 0
        lay["commit.samples"] = len(lat)
    else:
        primary = by("ingest", "primary")
        lat = []
        for s in primary:
            lat += [c - s["start_ms"] for c in s["file_commit_ms"].values()]
            ops.check(len(s["file_commit_ms"]) == len(manifest["sets"][s["set"]]["files"]),
                      "%s: %d of %d files committed" % (
                          s["set"], len(s["file_commit_ms"]),
                          len(manifest["sets"][s["set"]]["files"])))
        m["commit_latency_p50_ms"] = pct(lat, 50)
        m["commit_latency_p99_ms"] = pct(lat, 99)
        qstages = by("queries", "primary")
        query_samples = [r for s in qstages for r in s["results"] if r.get("error") is None]
        m["query_latency_p50_ms"] = pct([r["lat_ms"] for r in query_samples], 50)
        m["query_latency_p90_ms"] = pct([r["lat_ms"] for r in query_samples], 90)
        wall = sum(s["wall_s"] for s in qstages)
        m["queries_per_s"] = len(query_samples) / wall if wall else None
        ingest_stages = primary
        m["ingest_events_per_s"] = throughput(ingest_stages)
        stream_batches = [b for s in primary for b in s["batches"]]
        lay["source.backlog_files_end"] = sum(
            len(manifest["sets"][s["set"]]["files"]) - len(s["file_commit_ms"]) for s in primary[-1:])
        lay["source.backlog_files_mid"] = 0
        lay["gen.lag_p99_ms"] = 0
        lay["commit.samples"] = len(lat)
    window_stages = by("window", "probe")
    m["window_events_per_s"] = sustained_rate(window_stages)
    m["ok_ops_ratio"] = 1.0 - len(ops.failures) / max(1, ops.attempted)

    # --- per-layer (meaningful on traced runs) ---
    sets = manifest["sets"]
    lay["gen.events"] = sum(s["events"] for s in sets.values())
    lay["gen.files"] = sum(len(s["files"]) for s in sets.values())
    batches_per_stage = ([len([b for b in s["batches"] if b["rows"] > 0]) for s in
                          (by("live") if workload == "live_mixed" else primary)])
    lay["source.batches"] = med(batches_per_stage) or 0
    lay["source.rows_per_batch_p50"] = med([b["rows"] for b in stream_batches if b["rows"] > 0]) or 0
    lay.update(batch_stats(stream_batches))
    ref = ingest_stages[-1] if ingest_stages else {}
    kept = ref.get("sink", {}).get("rows", 0)
    rows_in = ref.get("events", 0)
    lay["pipeline.rows_in"] = rows_in
    lay["pipeline.rows_kept"] = kept
    lay["pipeline.keep_ratio"] = kept / rows_in if rows_in else 0
    for r in REASONS:
        lay["pipeline.reject." + r] = ref.get("dlq", {}).get(r, 0)
    extra = jvm["extra"]
    n_iso = extra.get("isolated.events", 0)
    iso = lambda k: extra.get(k, {}).get("busy_s", 0)
    lay["pipeline.busy_s"] = iso("isolated.pipeline")
    lay["pipeline.ns_per_event"] = iso("isolated.pipeline") * 1e9 / n_iso if n_iso else 0
    lay["dlq.busy_s"] = iso("isolated.dlq")
    lay["sink.write_busy_s"] = iso("isolated.sink")
    sink_batches = [b for s in ingest_stages for b in s["batches"] if b["rows"] > 0]
    lay["sink.add_batch_ms"] = med([b["durations"].get("addBatch", 0) for b in sink_batches]) or 0
    lay["sink.files_written"] = med([s["sink_files"] for s in ingest_stages]) or 0
    lay["sink.bytes_written"] = med([s["sink_bytes"] for s in ingest_stages]) or 0
    lay["sink.files_per_batch"] = (sum(s["sink_files"] for s in ingest_stages) /
                                   max(1, len(sink_batches)))
    lay["sink.file_count_end"] = ingest_stages[-1]["sink_files"] if ingest_stages else 0
    wb = [s["batches"] for s in window_stages]
    st = lambda key, f: med([f([b["state"][key] for b in bs if b["rows"] > 0] or [0]) for bs in wb]) or 0
    lay["state.rows_total"] = st("rows_total", max)
    lay["state.memory_bytes"] = st("memory_bytes", max)
    lay["state.rows_updated"] = st("rows_updated", sum)
    lay["state.rows_removed"] = st("rows_removed", sum)
    lay["state.rows_dropped_by_watermark"] = st("rows_dropped_by_watermark", sum)
    lay["state.commit_ms"] = med([b["state"]["commit_ms"] for bs in wb for b in bs if b["rows"] > 0]) or 0
    wtasks = [s.get("tasks", {}) for s in window_stages]
    lay["shuffle.bytes_written"] = med([t.get("shuffle_write_bytes", 0) for t in wtasks]) or 0
    lay["shuffle.fetch_wait_ms"] = med([t.get("fetch_wait_ms", 0) for t in wtasks]) or 0
    for q in QUERIES:
        lay["query.%s.p50_ms" % q] = med([r["lat_ms"] for r in query_samples if r["name"] == q]) or 0
    lay["scan.files_read"] = med([r.get("scan_files", 0) for r in query_samples]) or 0
    lay["scan.rows_read"] = med([r.get("scan_rows", 0) for r in query_samples]) or 0
    lay["scan.bytes_read"] = med([r.get("tasks", {}).get("input_bytes", 0) for r in query_samples]) or 0
    phase = jvm.get("phase", {})
    pt = phase.get("tasks") or {}
    wall = phase.get("wall_s") or 0
    lay["exec.cpu_s"] = pt.get("cpu_ns", 0) / 1e9
    lay["exec.run_s"] = pt.get("run_ms", 0) / 1e3
    lay["exec.gc_s"] = pt.get("gc_ms", 0) / 1e3
    lay["exec.cpu_util"] = lay["exec.cpu_s"] / (wall * jvm["env"]["cores"]) if wall else 0
    lay["jvm.heap_peak_mb"] = phase.get("heap_peak_mb", 0)
    lay["ingest.single_core_events_per_s"] = (
        single["events"] / single["wall_s"] if single and single.get("wall_s") else 0)
    spans = jvm.get("trace", {}).get("spans", [])
    selfs = self_times(spans)
    for layer in SPAN_LAYERS:
        lay["self_s." + layer] = selfs.get(layer, 0)
    lay["trace.spans"] = len(spans)
    return m, lay, ops


def declared():
    """End-to-end and per-layer metric units, as BENCHMARK.json declares them."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# --- orchestration ------------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def stop(proc):
    if proc is None or proc.poll() is not None:
        return
    proc.send_signal(signal.SIGTERM)
    try:
        proc.wait(10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_once(args, deadline):
    """One run of a workload. Returns (metrics, layers, ops, env)."""
    classes, jars = build.build()
    root = build.build_dir()
    work = os.path.join(root, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen_proc = jvm = None
    try:
        load_before, cpu_before = loadavg(), cpu_times()
        t = time.time()
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "stage",
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--dir", work],
                       check=True, stdout=sys.stderr)
        gen_s = time.time() - t
        with open(os.path.join(work, "manifest.json")) as fh:
            manifest = json.load(fh)
        with open(os.path.join(work, "expect.json")) as fh:
            expect = json.load(fh)
        if args.workload == "live_mixed":
            gen_proc = subprocess.Popen([sys.executable, os.path.join(BENCH, "gen.py"),
                                         "live", "--dir", work], stdout=sys.stderr)
        cores = len(os.sched_getaffinity(0))
        out = os.path.join(work, "jvm.json")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-XX:-UsePerfData",
                # compile hot code sooner, so a short run reaches steady state
                "-XX:CompileThresholdScaling=0.2",
                "-Djava.io.tmpdir=" + tmp, "-Dspark.sql.session.timeZone=UTC"] +
               [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
                "--workload", args.workload, "--dir", work, "--out", out,
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--cores", str(cores)])
        launch = time.time()
        jvm = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
        try:
            code = jvm.wait(max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("run: JVM exceeded the time limit")
        if code != 0:
            raise SystemExit("run: JVM exited with %d" % code)
        if gen_proc is not None:
            gen_proc.wait(30)
        with open(out) as fh:
            result = json.load(fh)
        keep = os.path.join(root, "results")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(out, os.path.join(keep, "%s.last-run.json" % args.workload))
        live_log = None
        if args.workload == "live_mixed":
            with open(os.path.join(work, "live_log.json")) as fh:
                live_log = json.load(fh)
        m, lay, ops = evaluate(args.workload, result, expect, manifest, live_log, launch)
        env = dict(result["env"])
        spent = [b - a for a, b in zip(cpu_before, cpu_times())]
        env.update({"nproc": cores, "loadavg_before": load_before, "loadavg_after": loadavg(),
                    # share of CPU time the hypervisor gave to other guests
                    "steal_pct": round(100.0 * spent[7] / max(1, sum(spent)), 2)
                    if len(spent) > 7 else None,
                    "input_sha256": manifest["input_sha256"], "gen_s": round(gen_s, 3),
                    "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace})
        if args.trace:
            env["spans_file"] = os.path.relpath(
                save_spans(root, args, result.get("trace", {})), os.getcwd())
        return m, lay, ops, env
    finally:
        if gen_proc is not None and gen_proc.poll() is None:
            open(os.path.join(work, "stop"), "w").close()
        stop(jvm)
        stop(gen_proc)
        shutil.rmtree(work, ignore_errors=True)


def save_spans(root, args, trace):
    d = os.path.join(root, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "%s-seed%d.json" % (args.workload, args.seed))
    with open(path, "w") as fh:
        json.dump(trace, fh)
    return path


def untraced_reference(root, workload):
    path = os.path.join(root, "results", workload + ".untraced.jsonl")
    try:
        with open(path) as fh:
            return [json.loads(l) for l in fh if l.strip()]
    except OSError:
        return []


def remember_untraced(root, workload, metrics):
    d = os.path.join(root, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, workload + ".untraced.jsonl"), "a") as fh:
        fh.write(json.dumps(metrics) + "\n")


def flags(workload, lay, env):
    out = []
    if (env.get("steal_pct") or 0) > 5:
        out.append("host contended: the hypervisor took %.1f%% of CPU time" % env["steal_pct"])
    if workload == "live_mixed":
        # more than one second of input (20 files) added to the backlog
        # over the second half of the period
        if lay["source.backlog_files_end"] > lay["source.backlog_files_mid"] + 20:
            out.append("backlog grew: %d files waiting mid-period, %d at the end" % (
                lay["source.backlog_files_mid"], lay["source.backlog_files_end"]))
        if lay["gen.lag_p99_ms"] > 50:
            out.append("generator ran late: p99 lag %.1f ms" % lay["gen.lag_p99_ms"])
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join("src", "main", "scala")) or not os.path.exists("BENCHMARK.json"):
        print("run: run from the root of a checkout that holds the program", file=sys.stderr)
        return 2
    build.build()   # a first build may take minutes; runs are timed after it
    deadline = time.time() + DEADLINE_S
    root = build.build_dir()
    if args.trace:
        ref = untraced_reference(root, args.workload)
        if not ref:
            a = argparse.Namespace(**dict(vars(args), trace=0))
            m0, _, _, _ = run_once(a, deadline)
            remember_untraced(root, args.workload, m0)
            ref = [m0]
            deadline = time.time() + DEADLINE_S
    m, lay, ops, env = run_once(args, deadline)
    e2e_units, layer_units = declared()
    if not args.trace:
        remember_untraced(root, args.workload, m)
        metrics = {k: {"value": m.get(k), "unit": u} for k, u in e2e_units.items()}
    else:
        key, better = PRIMARY[args.workload]
        base = med([r[key] for r in ref if r.get(key)])
        if base and m.get(key):
            ratio = base / m[key] if better == "higher" else m[key] / base
            lay["trace.overhead_pct"] = 100.0 * (ratio - 1.0)
        else:
            lay["trace.overhead_pct"] = 0.0
        lay["trace.reference_runs"] = len(ref)
        metrics = {k: {"value": lay.get(k), "unit": u} for k, u in layer_units.items()}
    env["flags"] = flags(args.workload, lay, env)
    env["wall_s"] = round(time.time() - start, 3)
    for f in ops.failures:
        print("check failed: " + f, file=sys.stderr)
    for f in env["flags"]:
        print("flag: " + f, file=sys.stderr)
    missing = [k for k, v in metrics.items() if v["value"] is None]
    for k in missing:
        print("metric not measured: " + k, file=sys.stderr)
    if missing:
        return 1
    print(json.dumps({"env": env}, sort_keys=True))
    print(json.dumps({"correct": not ops.failures, "attempted": ops.attempted,
                      "failed": len(ops.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
