#!/usr/bin/env python3
"""One benchmark for the CDC engine and its readers.

Run from the repository root:

    python3 perfbench/run.py --workload replay_catchup --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source into `.bench_build/`
(skipped when the sources are unchanged), runs one workload in a fresh
JVM, checks its outputs, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics.
See perfbench/README.md."""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

WORKLOADS = ("replay_catchup", "analytics")
BUILD = ".bench_build"
JVM_HEAP = "2g"
RUN_BUDGET_S = 170  # one invocation, after the build
SLICE_MIN_S = 45    # the single-core slice is skipped with less time left
DATA_DIR = os.path.join("perfbench", "data", "sf0.01")
ORACLE = os.path.join(HERE, "oracle", "analytics.json")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(root, jars):
    """Compile the program and the benchmark with scalac into
    .bench_build/classes; reuse the classes when no source changed."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    log(f"compiling {len(files)} sources")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def run_jvm(root, classes, jars, work, args, timeout):
    """Run one benchmark JVM; return its raw record (or None)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "raw.json")
    cmd = [java(), f"-Xmx{JVM_HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
            "--work", work, "--out", out] + args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=root, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log("benchmark JVM timed out")
    if not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        return None
    with open(out) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- metrics

def end_to_end_names():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return [(m["name"], m["unit"]) for m in b["end_to_end"]], \
        [(m["name"], m["unit"]) for m in b["per_layer"]]


def live_stats(live):
    """Freshness, generator lateness, backlog and BI figures of the live
    phase (`live` holds its own result and trace)."""
    res, trig = live["result"], [t for t in live["trace"]["triggers"] if t["input_rows"] > 0]
    sched = res["schedule_ms"]
    fresh = M.freshness(sched, trig, res["first_file"])
    warm_until = sched[0] + res["warmup_ms"] if sched else 0
    measured = [f for f, at in zip(fresh, sched) if at >= warm_until and f is not None]
    late = [w - s for w, s in zip(res["written_ms"], sched)]
    stop = res["gen_stop_ms"]
    committed = max([M.offset_of(t["end_offset"]) for t in trig
                     if M.trigger_end(t) <= stop] or [0])
    # backlog samples at the start of each trigger that starts while the
    # schedule runs, leaving out the first, which finds the stream idle
    running = [t for t in trig if sched and sched[0] <= t["start"] < stop]
    samples = M.backlog(res["written_ms"], running, res["first_file"])[1:]
    return {
        "fresh": measured, "missing": sum(1 for f in fresh if f is None),
        "late_max": max(late) if late else 0, "late_p90": M.nearest_rank(late, 0.9) or 0,
        "backlog_at_stop": res["first_file"] + len(sched) - committed,
        "backlog": samples,
        "bi_ms": [b["total_ms"] for b in res["bi"]],
    }


def span_self_ms(spans):
    """Self time (ms) summed per span name: the layer's own share of
    the benchmark's spans, children excluded."""
    self_t = M.self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_t[s["id"]]
    return out


def end_to_end(raw, workload):
    res = raw["result"]
    out = {"setup_s": res["setup_ms"] / 1e3}
    if workload == "replay_catchup":
        out["throughput_per_s"] = res["changes_per_s"]
        out["latency_ms"] = M.mean(M.warm_triggers(raw["trace"]["triggers"]))
        out["cold_s"] = M.median(res["restart_ms"]) / 1e3
    else:
        per_query = [M.median(v) for v in res["warm_ms"].values() if v]
        out["throughput_per_s"] = len(per_query) / (sum(per_query) / 1e3)
        out["latency_ms"] = M.geomean(per_query)
        out["cold_s"] = sum(res["cold_ms"].values()) / 1e3
    return out


def stream_metrics(res, trace):
    """Per-trigger figures of one streaming phase (medians over triggers)."""
    jobs = trace["jobs"]
    trig = [t for t in trace["triggers"] if t["input_rows"] > 0]
    changes = res.get("changes", 0)
    br = [M.trigger_breakdown(t, jobs) for t in trig]
    phases = [M.phase_windows(t, jobs) for t in trig]
    stage = [j for j in jobs if j["desc"].startswith("cdc batch") and ": stage " in j["desc"]]

    def med(xs):
        return M.median(xs) or 0
    return {
        "triggers": len(trig),
        "trigger_p50_ms": med([b["total"] for b in br]),
        "bookkeeping_ms": med([b["bookkeeping"] for b in br]),
        "driver_self_ms": med([b["driver_self"] for b in br]),
        "job_ms": med([b["job"] for b in br]),
        "driver_self_min_ms": min([b["driver_self"] for b in br] or [0]),
        "jobs_per_trigger": med([b["jobs"] for b in br]),
        "tasks_per_trigger": med([b["tasks"] for b in br]),
        "preamble_ms": med([p[0] for p in phases]),
        "stage_ms": med([p[1] for p in phases]),
        "rows_written_per_change": sum(j["out_rows"] for j in stage) / changes if changes else 0,
        "bytes_written_per_change": sum(j["out_bytes"] for j in stage) / changes if changes else 0,
    }


def probe_metrics(p):
    n = p["changes"] if p else 0
    return {
        "parse_ns_per_change": p["parse_ms"] * 1e6 / n if n else 0,
        "events_ns_per_change": p["events_ms"] * 1e6 / n if n else 0,
        "collapse_ns_per_change": p["collapse_ms"] * 1e6 / n if n else 0,
        "merge_ns_per_target_row": p["merge_ms"] * 1e6 / p["target_rows"]
        if p and p["target_rows"] else 0,
        "changes_per_key": p.get("events", n) / p["keys"] if p and p["keys"] else 0,
    }


def per_layer(raw, workload, slice_raw=None):
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    res, tr = raw["result"], raw["trace"]
    jobs = tr["jobs"]
    m = {}
    catchup = workload == "replay_catchup"
    sm = stream_metrics(res, tr) if catchup else {}
    for k in ("triggers", "trigger_p50_ms", "bookkeeping_ms", "driver_self_ms", "job_ms",
              "driver_self_min_ms", "jobs_per_trigger", "tasks_per_trigger", "preamble_ms",
              "stage_ms", "rows_written_per_change", "bytes_written_per_change"):
        m[f"stream.{k}"] = sm.get(k, 0)
    m["stream.restart_ms"] = M.median(res.get("restart_ms", [])) or 0
    single = ((slice_raw or {}).get("result") or {}).get("slice_changes_per_s")
    m["stream.parallel_speedup"] = res["slice_changes_per_s"] / single if single else 0
    m["catchup.changes_per_s"] = res.get("changes_per_s", 0)
    m["ddl.events"] = res.get("ddl_events", 0)
    pm = probe_metrics(res.get("probe"))
    m["decode.parse_ns_per_change"] = pm["parse_ns_per_change"]
    m["decode.events_ns_per_change"] = pm["events_ns_per_change"]
    m["apply.collapse_ns_per_change"] = pm["collapse_ns_per_change"]
    m["apply.merge_ns_per_target_row"] = pm["merge_ns_per_target_row"]
    bb = (M.median(res.get("basebackup_ms", [])) or 0) / 1e3
    m["snapshot.basebackup_s"] = bb
    m["snapshot.rows_per_s"] = res["snapshot_rows"] / bb if bb else 0
    m["snapshot.bytes_written"] = res.get("snapshot_bytes", 0)

    # the live phase (traced catch-up runs): jsonl source, DDL, bucket
    # deltas, hot keys, slot routing and the BI reader
    live = raw.get("live")
    if live and live["result"].get("schedule_ms"):
        lres, ltr = live["result"], live["trace"]
        s = live_stats(live)
        lsm = stream_metrics(lres, ltr)
        ltrig = [t for t in ltr["triggers"] if t["input_rows"] > 0]
        ddl_spans = [x for x in ltr["spans"] if x["name"] == "ddl.execute"]
        bi = lres["bi"]
        lchanges = lres["changes"]
        m["live.apply.changes_per_key"] = probe_metrics(lres.get("probe"))["changes_per_key"]
        m["live.sources.files"] = lres["files"]
        m["live.rate_changes_per_s"] = lres["rate_changes_per_s"]
        m["live.sources.offset_ms"] = M.median([t["durations"].get("latestOffset", 0)
                                           + t["durations"].get("getBatch", 0) for t in ltrig])
        m["live.sources.input_bytes_per_change"] = lres["input_bytes"] / lchanges
        m["live.ddl.events"] = lres["ddl_events"]
        m["live.ddl.execute_ms"] = M.median(lres["ddl_execute_ms"]) or 0
        m["live.ddl.trigger_ms"] = M.median([t["durations"]["triggerExecution"] for t in ltrig
                                        if any(t["start"] <= x["start"] <= M.trigger_end(t)
                                               for x in ddl_spans)]) or 0
        m["live.bi.queries"] = len(bi)
        m["live.bi.query_p50_ms"] = M.median(s["bi_ms"]) or 0
        m["live.bi.plan_ms_p50"] = M.median([b["plan_ms"] for b in bi]) or 0
        m["live.bi.store_read_ms_p50"] = M.median([b["read_ms"] for b in bi]) or 0
        m["live.freshness_p50_ms"] = M.median(s["fresh"]) or 0
        m["live.freshness_p90_ms"] = M.tail_percentile(s["fresh"], 0.9) or 0
        m["live.gen_late_max_ms"] = s["late_max"]
        m["live.gen_late_p90_ms"] = s["late_p90"]
        m["live.backlog_files_at_stop"] = s["backlog_at_stop"]
        m["live.triggers"] = lsm["triggers"]
        m["live.trigger_p50_ms"] = lsm["trigger_p50_ms"]
        m["live.rows_written_per_change"] = lsm["rows_written_per_change"]
        m["live.bytes_written_per_change"] = lsm["bytes_written_per_change"]
        jobs = jobs + ltr["jobs"]
    else:
        for k in LIVE_LAYER_METRICS:
            m[k] = 0

    # analytics
    queries = res.get("queries", [])
    cold, warm, plan = res.get("cold_ms", {}), res.get("warm_ms", {}), res.get("plan_ms", {})
    passes = max([len(v) for v in warm.values()] or [1])
    m["analytics.cold_s"] = sum(cold.values()) / 1e3
    m["analytics.warm_s"] = sum(M.median(v) for v in warm.values() if v) / 1e3
    m["analytics.plan_ms"] = sum(plan.values())
    for q in ANALYTICS_QUERIES:
        wj = [j for j in jobs if j["desc"] == f"aq {q} warm"]
        m[f"query.{q}.cold_ms"] = cold.get(q, 0)
        m[f"query.{q}.warm_ms"] = M.median(warm.get(q, [])) or 0
        m[f"query.{q}.plan_ms"] = plan.get(q, 0)
        m[f"query.{q}.cpu_ms"] = sum(j["cpu_ns"] for j in wj) / 1e6 / passes if q in queries else 0
        m[f"query.{q}.shuffle_bytes"] = sum(j["shuffle_write"] for j in wj) / passes \
            if q in queries else 0

    # resources over every traced job of the run, trace cost, host
    m["spark.executor_cpu_ms"] = sum(j["cpu_ns"] for j in jobs) / 1e6
    m["spark.shuffle_bytes"] = sum(j["shuffle_write"] for j in jobs)
    m["spark.spill_bytes"] = sum(j["spill"] for j in jobs)
    m["jvm.gc_ms"] = raw["gc_ms"]
    m["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    overhead = tr["overhead_ms"] + (live["trace"]["overhead_ms"] if live else 0)
    m["trace.overhead_pct"] = 100.0 * overhead / raw["wall_ms"]
    m["host.calib_start_ms"] = raw["calibration_ms"]["start"]
    m["host.calib_end_ms"] = raw["calibration_ms"]["end"]
    return m


LIVE_LAYER_METRICS = (
    "live.apply.changes_per_key", "live.sources.files", "live.rate_changes_per_s",
    "live.sources.offset_ms",
    "live.sources.input_bytes_per_change", "live.ddl.events", "live.ddl.execute_ms", "live.ddl.trigger_ms",
    "live.bi.queries", "live.bi.query_p50_ms", "live.bi.plan_ms_p50",
    "live.bi.store_read_ms_p50", "live.freshness_p50_ms", "live.freshness_p90_ms",
    "live.gen_late_max_ms", "live.gen_late_p90_ms", "live.backlog_files_at_stop",
    "live.triggers", "live.trigger_p50_ms", "live.rows_written_per_change",
    "live.bytes_written_per_change")

ANALYTICS_QUERIES = ("q1_agg", "q3_multi_join", "cat_fk_index_cols", "td_heavy_hitters",
                     "td_winnowing", "td_source_neardup")


# ---------------------------------------------------------------- checks

def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def table_hash(cols, rows):
    """The oracle canonicalisation: columns sorted by name, values
    repr()'d, rows sorted, sha256 over '|'-joined lines."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in sorted(tuple(canon(r[i]) for i in order) for r in rows):
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()


def analytics_checks(raw):
    """Each query's result (written by the cold pass) must hash to its
    stored DuckDB oracle hash."""
    import duckdb
    with open(ORACLE) as fh:
        oracle = json.load(fh)["queries"]
    out = []
    for q in raw["result"]["queries"]:
        files = glob.glob(os.path.join(raw["result"]["result_dir"], q, "*.parquet"))
        if not files:
            out.append((f"analytics.oracle.{q}", False, "no result"))
            continue
        con = duckdb.connect()
        r = con.execute(f"SELECT * FROM read_parquet({files!r})")
        cols = [d[0] for d in r.description]
        rows = r.fetchall()
        con.close()
        want = oracle[q]
        ok = sorted(cols) == sorted(want["columns"]) and len(rows) == want["rows"] \
            and table_hash(cols, rows) == want["sha256"]
        out.append((f"analytics.oracle.{q}", ok, f"{len(rows)} rows"))
    return out


def breakdown_check(raw):
    """Each catch-up trigger splits into bookkeeping, driver self time
    and job time, none of them negative."""
    trig = [t for t in raw["trace"]["triggers"] if t["input_rows"] > 0]
    br = [M.trigger_breakdown(t, raw["trace"]["jobs"]) for t in trig]
    bad = sum(1 for b in br if not M.breakdown_holds(b))
    low = min([b["driver_self"] for b in br] or [0])
    return ("stream.trigger_breakdown", bool(br) and bad == 0,
            f"{bad} of {len(br)} triggers with a negative part; smallest driver self {low} ms")


def validity(live):
    """Open-loop hygiene: a live phase whose generator fell behind its
    schedule or whose backlog grew did not measure the intended load."""
    if not live or not live["result"].get("schedule_ms"):
        return []
    s = live_stats(live)
    res = live["result"]
    return [
        ("live.generator_on_time", s["late_max"] <= res["period_ms"],
         f"max lateness {s['late_max']:.1f} ms"),
        ("live.backlog_flat", not M.backlog_growing(s["backlog"]),
         f"backlog {s['backlog']} files at trigger starts"),
        ("live.all_files_committed", s["missing"] == 0, f"{s['missing']} uncommitted"),
        ("live.freshness_tail_samples", M.tail_percentile(s["fresh"], 0.9) is not None,
         f"{len(s['fresh'])} samples"),
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; one of {WORKLOADS}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the repository root")
    jars = spark_jars()
    classes = build(root, jars)
    cores = os.cpu_count() or 1
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(root, BUILD, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(root, DATA_DIR)]
    deadline = time.monotonic() + RUN_BUDGET_S
    try:
        raw = run_jvm(root, classes, jars, work, args + ["--cores", str(cores)],
                      deadline - time.monotonic())
        if raw is None:
            raise SystemExit("perfbench: the benchmark JVM produced no record")
        slice_raw = None
        left = deadline - time.monotonic()
        if a.trace and a.workload == "replay_catchup" and left < SLICE_MIN_S:
            log(f"single-core slice skipped: {left:.0f} s left")
        elif a.trace and a.workload == "replay_catchup":
            # the single-core baseline: the pre-crash slice on local[1]
            n = raw["result"]["slice_batches"]
            slice_raw = run_jvm(root, classes, jars, work + "-slice",
                                args + ["--cores", "1", "--slice", str(n)], left)
        live = raw.get("live")
        checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
        if live:
            checks += [(c["name"], c["ok"], c["detail"]) for c in live["checks"]]
            checks += validity(live)
        if a.trace and a.workload == "replay_catchup":
            checks.append(breakdown_check(raw))
        if slice_raw is not None:
            checks.append(("catchup.single_core_slice", slice_raw["error"] is None
                           and all(c["ok"] for c in slice_raw["checks"]), "local[1] run"))
        if a.workload == "analytics" and raw["result"].get("queries"):
            checks += analytics_checks(raw)
        bad = [c for c in checks if not c[1]]
        for c in bad:
            log(f"check failed: {c[0]} ({c[2]})")
        attempted = raw["attempted"] + (live["attempted"] if live else 0)
        failed = raw["failed"] + (live["failed"] if live else 0) \
            + sum(1 for c in bad if c[0].startswith("analytics.oracle."))
        correct = raw["error"] is None and not bad and failed == 0
        if raw["error"]:
            log(f"error: {raw['error']}")
        e2e_names, layer_names = end_to_end_names()
        values = per_layer(raw, a.workload, slice_raw) if a.trace else \
            end_to_end(raw, a.workload)
        names = layer_names if a.trace else e2e_names
        result = {"correct": bool(correct), "attempted": int(max(1, attempted)),
                  "failed": int(failed),
                  "metrics": {n: {"value": values.get(n), "unit": u} for n, u in names}}
        record = dict(raw)
        record["perfbench"] = {"checks": checks, "metrics": values,
                               "span_self_ms": span_self_ms(raw["trace"]["spans"])}
        os.makedirs(os.path.join(root, BUILD, "results"), exist_ok=True)
        with open(os.path.join(root, BUILD, "results", name + ".json"), "w") as fh:
            json.dump(record, fh)
        print(f"host calibration: start {raw['calibration_ms']['start']:.1f} ms, "
              f"end {raw['calibration_ms']['end']:.1f} ms; "
              f"checks {len(checks) - len(bad)}/{len(checks)} passed")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-slice", ignore_errors=True)


if __name__ == "__main__":
    main()
