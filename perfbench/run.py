#!/usr/bin/env python3
"""CommercePulse engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark harness from source with sbt (`perfbench/build.sbt`); later runs
reuse the build while no source changed. Inputs are generated from the
seed outside the timed region and cached by (seed, size) in `.bench_work/`.
Each run measures one workload in a fresh JVM (one client, closed loop),
checks its outputs, and prints one JSON object as the last line of stdout.
With --trace 0 it reports the end-to-end metrics; with --trace 1 it also
records spans and Spark counters and reports the per-layer metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

try:
    import stats
except ImportError as e:  # run outside the engine's source tree
    sys.exit(f"perfbench: {e}; run from the root of the engine's source tree")

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
MB = 1024.0 * 1024.0

# Catalog queries whose construct phase runs no Spark job: plan and execute
# of star-schema plans, no session staging.
STAR = ["tpch_q1", "tpch_q3", "a1_fact_order_daily", "qr_report"]
# Catalog queries whose construct phase stages session state through
# `graft.Scratch`: a persisted rollup folded forward, and a k-means
# fixpoint over staged centroids.
STAGED = ["a14_incremental_agg", "emb_kmeans"]

# `timeout` bounds the measuring JVM.
WORKLOADS = {
    "elt_daily": {"kind": "elt", "days": 2, "events": 2000, "timeout": 170, "heap": "1g"},
    "catalog_mix": {"kind": "catalog", "queries": STAR + STAGED, "sf": 0.01, "timeout": 170,
                    "heap": "1g"},
}

END_TO_END = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "run.cold_wall_s": "s", "run.warm_wall_s": "s",
    "pipeline.ingest_s": "s", "pipeline.ingest_task_s": "s",
    "pipeline.input_mb": "MB", "pipeline.dup_drop_frac": "ratio",
    "normalize.wall_s": "s", "normalize.task_s": "s", "normalize.rows_out": "count",
    "operators.daily_s": "s", "operators.quality_s": "s",
    "operators.execute_s": "s", "operators.execute_task_s": "s",
    "operators.execute_jobs": "count", "operators.execute_stages": "count",
    "operators.shuffle_read_mb": "MB", "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB", "operators.core_util": "ratio",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.construct_task_s": "s",
    "Scratch.write_mb": "MB", "Scratch.warm_rebuild_frac": "ratio",
    "plans.plan_s": "s",
    "sources.write_s": "s", "sources.write_mb": "MB", "sources.write_amp": "ratio",
    "sources.files_written": "count",
    "streaming.batch_s": "s", "streaming.add_batch_s": "s", "streaming.plan_s": "s",
    "streaming.commit_s": "s", "streaming.state_rows": "count",
    "streaming.batch_growth": "ratio", "streaming.useful_batch_frac": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.task_s": "s",
    "spark.core_util": "ratio", "log.error_events": "count",
    "ops.failed_frac": "ratio", "control.drift": "ratio", "trace.overhead": "ratio",
}

JVM_OPTS = [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


_children = []


def spawn(cmd, **kw):
    """Start a child in its own process group, so it and anything it starts
    can be stopped together."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    return p


def stop_children():
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
    for p in _children:
        p.wait()


def _on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def wait(p, timeout, what):
    try:
        return p.communicate(timeout=timeout)[0]
    except subprocess.TimeoutExpired:
        fail(f"{what} exceeded {timeout}s")


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    stop_children()
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---- build -------------------------------------------------------------

def _sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        files += glob.glob(os.path.join(base, "*.sbt")) + \
            glob.glob(os.path.join(base, "*.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def tree_digest(paths, rel_to):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, rel_to).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"engine sources not found next to {BENCH} (need build.sbt and src/main/scala)")
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = tree_digest(_sources(), ROOT)
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.isfile(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and benchmark harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"),
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        p = spawn(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=logf, text=True)
        stdout = wait(p, 800, "sbt build")
    cps = [ln for ln in stdout.splitlines()
           if ln.startswith("/") and "classes" in ln and ":" in ln]
    if p.returncode != 0 or not cps:
        fail("sbt build failed:\n" + stdout[-3000:])
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---- inputs --------------------------------------------------------------

def java(cp, args, heap):
    return (["java", "-Xmx" + heap] + JVM_OPTS +
            ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"), "-cp", cp, "perfbench.Main"] +
            args)


def child_env():
    env = dict(os.environ)
    # the bench owns Spark's local dir and the engine's scratch dir
    for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CONF", "SPARK_GRAFT_ONLY", "SPARK_CONF_DIR"):
        env.pop(k, None)
    return env


def _cached(path, make):
    """Build an input directory once; a finished one carries a DONE marker."""
    if not os.path.isfile(os.path.join(path, "DONE")):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        os.rename(tmp, path)
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f != "DONE"]
    return path, tree_digest(files, path)


def event_corpus(cp, seed, days, events):
    def make(tmp):
        p = spawn(java(cp, ["--mode", "gen-events", "--seed", str(seed), "--days",
                            str(days), "--events", str(events), "--out", tmp], "1g"),
                  env=child_env(), stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        wait(p, 120, "event generation")
        if p.returncode != 0:
            fail(f"event generation exited {p.returncode}")
        # one micro-batch per day: the stream source orders files by mtime
        for i, f in enumerate(sorted(glob.glob(os.path.join(tmp, "live", "*", "events.jsonl")))):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    return _cached(os.path.join(WORK, "inputs", f"events-s{seed}-d{days}-e{events}"), make)


def star_tables(seed, sf):
    import gen_star
    return _cached(os.path.join(WORK, "inputs", f"star-s{seed}-sf{sf}"),
                   lambda tmp: gen_star.write(seed, sf, tmp))


# ---- control and set-up ----------------------------------------------------

def control():
    """Fixed CPU-bound control loop; its wall tracks host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


# ---- metrics ---------------------------------------------------------------

def _calls(rec, phase, name=None):
    return [c for c in rec["calls"] if c["phase"] == phase and (name is None or c["name"] == name)]


def steal_ticks():
    """Host steal time (all CPUs, clock ticks): time the hypervisor ran
    something else while this VM wanted to run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def operations(w, rec):
    """{operation: (cold call, [warm calls])}. Catalog: each query's cold
    call and its warm-pass calls. ELT: the one `runAll` call, and the
    refresh micro-batch (the first data batch, then the later ones)."""
    if w["kind"] == "catalog":
        return {q: (_calls(rec, "cold", q)[0], [c for c in _calls(rec, "warm", q) if c["ok"]])
                for q in w["queries"]}
    data = [c for c, b in zip(_calls(rec, "batch"), rec["extra"]["batches"])
            if b["input_rows"] > 0]
    return {"runAll": (_calls(rec, "cold", "runAll")[0], []),
            "refresh_batch": (data[0], data[1:])}


def end_to_end(w, rec):
    """End-to-end metrics plus the walls beside them. The graded times are
    process CPU seconds: each operation's cold call, summed, and each
    operation's median warm call, summed over the operations that have warm
    calls. Wall time on a host with fluctuating steal does not repeat well
    enough to gate on, so walls are reported beside them."""
    ops = operations(w, rec)
    m = {"setup_s": (rec["ready_ms"] - rec["jvm_start_ms"]) / 1000.0,
         "peak_rss_mb": rec["rss_mb"], "heap_peak_mb": rec["heap_peak_mb"]}
    for field in ("cpu_s", "wall_s"):
        m["cold_" + field] = sum(cold[field] for cold, _ in ops.values())
        m["warm_" + field] = sum(stats.median([c[field] for c in warm])
                                 for _, warm in ops.values() if warm)
    return m, ops


def _spans(rec):
    return {s["id"]: s for s in rec["spans"]}


def _root(rec, span):
    """(phase, pass) of the catalog call a span belongs to."""
    root = _spans(rec).get(span["parent"])
    if root is None or "#" not in root["name"]:
        return None, None
    phase, rest = root["name"].split("#", 1)
    return phase, int(rest.split("/", 1)[0])


def _warm_per_pass(rec, child, field):
    """Median over warm passes of the per-pass sum of `field` over `child` spans."""
    per = {}
    for s in rec["spans"]:
        if s["name"] == child:
            phase, npass = _root(rec, s)
            if phase == "warm":
                per[npass] = per.get(npass, 0.0) + _val(s, field)
    return stats.median(list(per.values()) or [0.0])


def _val(s, field):
    if field == "wall":
        return s["end_s"] - s["start_s"]
    if field == "task_s":
        return s["task_ms"] / 1000.0
    return s[field]


def per_layer(w, rec, e2e, cpus, inputs_bytes, truth, control_drift, failed_frac):
    m = {k: 0.0 for k in PER_LAYER}
    m["run.cold_wall_s"], m["run.warm_wall_s"] = e2e["cold_wall_s"], e2e["warm_wall_s"]
    spans = rec["spans"]
    extra = rec["extra"]

    def one(name, field):
        return sum(_val(s, field) for s in spans if s["name"] == name)
    if w["kind"] == "elt":
        counts = extra["counts"]
        m["pipeline.ingest_s"] = one("pipeline.ingest", "wall")
        m["pipeline.ingest_task_s"] = one("pipeline.ingest", "task_s")
        m["pipeline.input_mb"] = inputs_bytes / MB
        m["pipeline.dup_drop_frac"] = (truth["raw_lines"] - counts["events"]) / truth["raw_lines"]
        m["normalize.wall_s"] = one("normalize", "wall")
        m["normalize.task_s"] = one("normalize", "task_s")
        m["normalize.rows_out"] = counts["orders"] + counts["payments"] + counts["refunds"]
        m["operators.daily_s"] = one("operators.daily", "wall")
        m["operators.quality_s"] = one("operators.quality", "wall")
        ops = ("operators.daily", "operators.quality")
        for key, field in (("execute_s", "wall"), ("execute_task_s", "task_s"),
                           ("execute_jobs", "jobs"), ("execute_stages", "stages"),
                           ("shuffle_read_mb", "shuffle_read"),
                           ("shuffle_write_mb", "shuffle_write"), ("spill_mb", "spill")):
            v = sum(one(o, field) for o in ops)
            m["operators." + key] = v / MB if key.endswith("_mb") else v
        # the runAll jobs its sinks triggered
        sink = extra["layers"].get("sources", {})
        m["sources.write_s"] = sink.get("job_ms", 0) / 1000.0
        m["sources.write_mb"] = sink.get("bytes_written", 0) / MB
        m["sources.write_amp"] = sink.get("bytes_written", 0) / inputs_bytes
        m["sources.files_written"] = extra["files_written"]
        batches = extra["batches"]
        data = [b for b in batches if b["input_rows"] > 0]

        def dur(b, k):
            return b["duration_ms"].get(k, 0) / 1000.0
        m["streaming.batch_s"] = stats.median([dur(b, "triggerExecution") for b in data] or [0.0])
        m["streaming.add_batch_s"] = stats.median([dur(b, "addBatch") for b in data] or [0.0])
        m["streaming.plan_s"] = stats.median([dur(b, "queryPlanning") for b in data] or [0.0])
        m["streaming.commit_s"] = stats.median(
            [dur(b, "commitOffsets") + dur(b, "walCommit") for b in data] or [0.0])
        m["streaming.state_rows"] = data[-1]["state_rows"] if data else 0
        if len(data) >= 2 and dur(data[1], "triggerExecution") > 0:
            m["streaming.batch_growth"] = (dur(data[-1], "triggerExecution")
                                           / dur(data[1], "triggerExecution"))
        m["streaming.useful_batch_frac"] = len(data) / len(batches) if batches else 0.0
        # one fixed amount of work, so the counts repeat at one seed
        roots = [s for s in spans if s["name"] == "pipeline.runAll"]
    else:
        for key, child, field in (
                ("operators.execute_s", "operators.execute", "wall"),
                ("operators.execute_task_s", "operators.execute", "task_s"),
                ("operators.execute_jobs", "operators.execute", "jobs"),
                ("operators.execute_stages", "operators.execute", "stages"),
                ("operators.shuffle_read_mb", "operators.execute", "shuffle_read"),
                ("operators.shuffle_write_mb", "operators.execute", "shuffle_write"),
                ("operators.spill_mb", "operators.execute", "spill"),
                ("queries.construct_s", "queries.construct", "wall"),
                ("queries.construct_jobs", "queries.construct", "jobs"),
                ("queries.construct_task_s", "queries.construct", "task_s"),
                ("plans.plan_s", "plans.plan", "wall")):
            v = _warm_per_pass(rec, child, field)
            m[key] = v / MB if key.endswith("_mb") else v
        construct = [s for s in spans if s["name"] == "queries.construct"]
        m["Scratch.write_mb"] = sum(s["bytes_written"] for s in construct) / MB
        cold_jobs = sum(s["jobs"] for s in construct if _root(rec, s)[0] == "cold")
        m["Scratch.warm_rebuild_frac"] = (m["queries.construct_jobs"] / cold_jobs
                                          if cold_jobs else 0.0)
        roots = [s for s in spans if s["name"].startswith("warm#1/")]
    wall = sum(s["end_s"] - s["start_s"] for s in roots)
    m["spark.jobs"] = sum(s["jobs"] for s in roots)
    m["spark.stages"] = sum(s["stages"] for s in roots)
    m["spark.task_s"] = sum(s["task_ms"] for s in roots) / 1000.0
    m["spark.core_util"] = m["spark.task_s"] / (wall * cpus) if wall else 0.0
    if m["operators.execute_s"] > 0:
        m["operators.core_util"] = m["operators.execute_task_s"] / (m["operators.execute_s"] * cpus)
    m["log.error_events"] = rec["error_events"]
    m["ops.failed_frac"] = failed_frac
    m["control.drift"] = control_drift
    m["trace.overhead"] = rec["trace_overhead_s"] / rec["run_wall_s"]
    return m


# ---- correctness -------------------------------------------------------------

def check_elt(rec, truth):
    c = rec["extra"]["counts"]
    out = [("events", c.get("events") == truth["distinct_events"],
            f"events {c.get('events')} vs generated {truth['distinct_events']}"),
           ("payments", c.get("payments") == truth["distinct_payments"],
            f"payments {c.get('payments')} vs generated {truth['distinct_payments']}")]
    # the refresh, grain by grain against the batch recompute (made in the JVM)
    grains = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
    return out + (grains or [("refresh_vs_batch", False, "no grains compared")])


def check_catalog(rec, tables_dir):
    import duckdb
    con = duckdb.connect()
    for t in stats.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    oracle = rec["extra"]["oracle_sql"]
    out = []
    for cap in rec["extra"]["captures"]:
        q = cap["query"]
        files = sorted(glob.glob(os.path.join(cap["dir"], "*.parquet")))
        if cap["error"] or not files:
            out.append((f"{q}:oracle", False, cap["error"] or "no output"))
            continue
        if q not in oracle:
            out.append((f"{q}:oracle", False, "no oracle SQL"))
            continue
        got = stats.canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
        try:
            diff = stats.compare(got, stats.canon(con.sql(oracle[q]).df()))
        except Exception as e:  # the oracle itself failed
            diff = f"oracle error {type(e).__name__}: {e}"
        out.append((f"{q}:oracle", diff is None,
                    diff or f"{len(got)} rows, digest {stats.digest(got)[:16]}"))
    return out


# ---- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    w = WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))

    cp = build()
    control_start = control()

    # inputs (untimed, cached by seed and size)
    tables_dir = truth = None
    args = []
    if w["kind"] == "elt":
        inputs, in_digest = event_corpus(cp, a.seed, w["days"], w["events"])
        truth = json.load(open(os.path.join(inputs, "truth.json")))
        files = glob.glob(os.path.join(inputs, "live", "*", "events.jsonl"))
        files.append(os.path.join(inputs, "historical", "export.json"))
        inputs_bytes = sum(os.path.getsize(f) for f in files)
    else:
        inputs, in_digest = star_tables(a.seed, w["sf"])
        tables_dir = inputs
        args += ["--queries", ",".join(w["queries"])]
        inputs_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(inputs, "*.parquet")))
    log(f"workload {a.workload} seed {a.seed}: inputs {os.path.relpath(inputs, ROOT)} "
        f"({inputs_bytes / MB:.2f} MB, digest {in_digest[:16]})")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    rec_path = os.path.join(run_dir, "record.json")
    t_launch = time.time()
    steal0 = steal_ticks()
    cmd = java(cp, ["--mode", "run", "--kind", w["kind"], "--inputs", inputs,
                    "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--cpus", str(cpus), "--out", rec_path] + args, w["heap"])
    with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
        p = spawn(cmd, stdout=jl, stderr=subprocess.STDOUT, env=child_env())
        wait(p, w["timeout"], f"benchmark JVM (log: {jl.name})")
    if p.returncode != 0 or not os.path.isfile(rec_path):
        fail(f"benchmark JVM exited {p.returncode} (log: {os.path.join(run_dir, 'jvm.log')})")
    steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / cpus / (time.time() - t_launch)
    rec = json.load(open(rec_path))
    control_drift = control() / control_start

    # correctness, untimed
    checks = check_elt(rec, truth) if w["kind"] == "elt" else check_catalog(rec, tables_dir)
    calls = rec["calls"]
    attempted = len(calls) + len(checks)
    failed = sum(1 for c in calls if not c["ok"]) + sum(1 for c in checks if not c[1])
    failed_frac = stats.failed_fraction(attempted, failed)

    e2e, ops = end_to_end(w, rec)
    for c in calls:
        if not c["ok"]:
            log(f"FAILED call {c['phase']}:{c['name']}#{c['pass']}: {c['error']}")
    for name, ok, detail in checks:
        if not ok:
            log(f"FAILED check {name}: {detail}")
    log(f"checks: {len(checks) - sum(1 for c in checks if not c[1])}/{len(checks)} pass; "
        f"calls: {len(calls)} ({sum(1 for c in calls if not c['ok'])} failed); "
        f"ops_failed_frac {failed_frac:.4f}; ERROR log events {rec['error_events']}")
    for s in rec["error_samples"]:
        log(f"  ERROR: {s}")
    for name, (cold, warm) in ops.items():
        walls = [c["wall_s"] for c in warm]
        tl = stats.tail(walls)
        log(f"{name}: cold {cold['wall_s']:.3f}s wall / {cold['cpu_s']:.2f}s cpu; warm n={len(walls)}"
            + (f" p50={stats.median(walls):.3f}s" if walls else "")
            + (f" p{tl[0] * 100:g}={tl[1]:.3f}s" if tl else ""))
    log(f"walls: cold {e2e['cold_wall_s']:.3f}s, warm {e2e['warm_wall_s']:.3f}s; "
        f"heap peak {e2e['heap_peak_mb']:.1f} MB")
    log(f"control drift {control_drift:.3f}; host steal {steal:.1%} of CPU time")
    if w["kind"] == "elt":
        rows = sum(b["input_rows"] for b in rec["extra"]["batches"])
        busy = sum(b["duration_ms"].get("triggerExecution", 0) for b in rec["extra"]["batches"])
        log(f"runAll throughput {truth['raw_lines'] / ops['runAll'][0]['wall_s']:.0f} raw "
            f"events/s; refresh throughput {rows / (busy / 1000.0):.0f} events/s over "
            f"{len(rec['extra']['batches'])} batches")

    if a.trace:
        metrics = per_layer(w, rec, e2e, cpus, inputs_bytes, truth, control_drift, failed_frac)
        units = PER_LAYER
        log(f"traced run record: {os.path.relpath(rec_path, ROOT)}")
    else:
        metrics, units = e2e, END_TO_END
    for k in units:
        log(f"{k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    try:
        main()
    finally:
        stop_children()
