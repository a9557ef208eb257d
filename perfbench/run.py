#!/usr/bin/env python3
"""The repository benchmark: the paper's daily pipeline, keyed upserts,
and curation/retrieval, measured end to end (and per layer with
--trace 1).

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/jvm) with sbt; later runs reuse the build while the
sources are unchanged. Inputs are generated from --seed while the
measured JVM starts its session; the JVM then runs the workload as a
closed loop with one client thread, for a number of whole units set by
--seconds; the outputs are then checked against DuckDB and numpy. The
last line of stdout is one JSON object; the lines before it print every
metric by name with its unit. Exit code 1 on any wrong
output, 2 when the engine sources are missing or the build fails.
"""
import argparse
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402

WORKLOADS = ("etl_daily", "keyed_upsert", "curation_retrieval")
REPORTS = ["q01_top10_star_join", "q02_pct_by_priority", "q03_rowcount_health",
           "q04_freshness_max", "q05_latency_avg", "q50_pages_source"]
# x102 (the funnel) and x35 (ANN recall) are left out: each takes 5 s or
# more warm at any corpus size, which a run's budget cannot hold.
CURATION = ["x21_exact_dedup_survivors", "x22_minhash_lsh_pairs", "x23_simhash_neardup",
            "x27_quality_score"]
RETRIEVAL = ["x24_topk_cosine", "x34_ann_ivf", "x104_bm25_topk", "x105_rrf_fusion"]
# Set-up reps per run (setup_s is their median); the curation set-up is
# short, so it takes more reps for as steady a median.
SETUP_REPS = {"etl_daily": 3, "keyed_upsert": 3, "curation_retrieval": 7}
# How many seconds of --seconds one unit stands for, and warmup units:
# --seconds sets how many whole units a run measures (seconds / this,
# rounded), so every run of one --seconds does the same requests at the
# same point of the JVM's warm-up, whatever the box's speed. On a quiet
# 4-core box a unit takes about 4.7 s (etl), 9 s (keyed) and 7 s
# (curation); a daily batch counts as 3.3 s because its latency varies
# more from batch to batch, so a run takes three.
SECONDS_PER_UNIT = {"etl_daily": 3.3, "keyed_upsert": 9.0, "curation_retrieval": 7.0}
WARMUP_UNITS = {"etl_daily": 1, "keyed_upsert": 1, "curation_retrieval": 1}
# A unit whose other-process CPU share passes this was contended; a run
# makes up at most EXTRA_UNITS contended units with more units.
CONTENDED_SHARE = 0.10
EXTRA_UNITS = 2
DEADLINE_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Input sizes per workload (see README.md for why). etl_daily re-extracts
# two playlists of 10,000 tracks a day, one envelope each (the
# reference's "10K+ tracks per playlist" and daily cadence); the daily
# churn (3% added, 2% dropped) and the 10% of tracks shared between the
# playlists are guesses, as the reference publishes neither.
SIZES = {
    "etl_daily": dict(playlists=2, tracks=10000, n_days=4, add_share=0.03, drop_share=0.02,
                      shared_share=0.1, corpus_factor=4,
                      corpus=dict(n_cust=150, n_orders=1500, n_docs=500, n_vecs=100)),
    "keyed_upsert": dict(base_rows=16000, batch_rows=200, n_blocks=60, retain=16),
    "curation_retrieval": dict(corpus_factor=4, rounds=1,
                               corpus=dict(n_cust=150, n_orders=150, n_docs=250, n_vecs=250)),
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ── build ────────────────────────────────────────────────────────────

def source_stamp(repo):
    h = hashlib.sha256(EXPORT.encode())
    roots = ["src/main", "build.sbt", "project/build.properties",
             "perfbench/jvm/build.sbt", "perfbench/jvm/project/build.properties",
             "perfbench/jvm/src"]
    for r in roots:
        p = os.path.join(repo, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, repo).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# jars, not class directories: a class data archive accepts only jars
EXPORT = "export harness/Runtime/fullClasspathAsJars"


def build(repo, state):
    """Compile engine + harness with sbt; cache the runtime classpath."""
    stamp = source_stamp(repo)
    cp_file = os.path.join(state, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dsbt.global.base={os.path.join(state, 'sbt-global')}",
         "harness/compile", EXPORT],
        cwd=os.path.join(repo, "perfbench", "jvm"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1]
    train(classpath, state)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def train(classpath, state):
    """Record the classes a few small Spark jobs load in a class data
    archive; every measured JVM maps it instead of loading those classes
    from the jars one by one (about 10 s less start-up per run on a
    4-core box). The measured JVMs run without it if it cannot be made."""
    jsa = os.path.join(state, "classes.jsa")
    work = os.path.join(state, "train")
    for _ in range(2):
        if os.path.exists(jsa):
            os.remove(jsa)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        p = subprocess.run(java_cmd(classpath, work, f"-XX:ArchiveClassesAtExit={jsa}")
                           + ["--train", work], stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=300, env=java_env())
        shutil.rmtree(work, ignore_errors=True)
        if p.returncode == 0 and os.path.exists(jsa):
            return
        lines = [ln for ln in p.stdout.splitlines() if "[warning][cds]" not in ln]
        log("\n".join(lines[-30:]))
    if os.path.exists(jsa):
        os.remove(jsa)
    log("perfbench: no class data archive; the measured JVMs load every class from the jars")


# ── inputs ───────────────────────────────────────────────────────────

def make_inputs(repo, workload, seed, work):
    """Generate the workload's inputs; returns (spec fields, ground truth)."""
    z = SIZES[workload]
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    if workload == "etl_daily":
        raw = gen.etl_inputs(os.path.join(inputs, "raw"), seed, z["playlists"], z["tracks"],
                             z["n_days"], z["add_share"], z["drop_share"], z["shared_share"])
        corpus = gen.scaled_corpus(repo, os.path.join(inputs, "corpus"), seed,
                                   z["corpus_factor"], **z["corpus"])
        fields = {k: raw[k] for k in ("base", "days", "stamps", "base_stamp")}
        fields.update(corpus=corpus, reports=REPORTS)
        return fields, raw["truth"]
    if workload == "keyed_upsert":
        return gen.keyed_inputs(os.path.join(inputs, "keyed"), seed, z["base_rows"],
                                z["batch_rows"], z["n_blocks"], z["retain"]), None
    corpus = gen.scaled_corpus(repo, os.path.join(inputs, "corpus"), seed,
                               z["corpus_factor"], **z["corpus"])
    return dict(corpus=corpus, curation=CURATION, retrieval=RETRIEVAL,
                rounds=z["rounds"], setup_rounds=1), None


# ── the measured JVM ─────────────────────────────────────────────────

def java_cmd(classpath, work, cds):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", cds, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main"]


def java_env():
    return dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")


def start_jvm(classpath, work, state):
    """Start the measured JVM; it builds its session and then waits for
    <work>/spec.json, so input generation overlaps JVM start-up."""
    cmd = java_cmd(classpath, work, "-XX:SharedArchiveFile=" + os.path.join(state, "classes.jsa"))
    out = open(os.path.join(work, "jvm.out"), "w")
    err = open(os.path.join(work, "jvm.err"), "w")
    return subprocess.Popen(cmd + [os.path.join(work, "spec.json")], stdout=out, stderr=err,
                            stdin=subprocess.DEVNULL, env=java_env(), start_new_session=True)


def stop_jvm(p):
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()


def finish_jvm(p, work, spec, deadline):
    """Hand the JVM its spec, wait for it, and load its result."""
    tmp = os.path.join(work, "spec.json.tmp")
    with open(tmp, "w") as f:
        json.dump(spec, f)
    os.rename(tmp, os.path.join(work, "spec.json"))
    try:
        code = p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop_jvm(p)
        fail("the measured JVM ran past the deadline")
    if code != 0:
        with open(os.path.join(work, "jvm.err")) as f:
            log(f.read()[-4000:])
        fail(f"the measured JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ── metrics ──────────────────────────────────────────────────────────

def ms(op):
    return (op["end"] - op["start"]) / 1000.0 if op["ok"] else float("inf")


def clean_units(res):
    """The units the box left alone: other-process CPU share (the VM's
    steal time included) at most CONTENDED_SHARE, or else the least
    contended half. Unit id -> seconds."""
    ub = res["unit_box"]
    keep = [u for u in ub if u["other_cpu_share"] <= CONTENDED_SHARE]
    if len(keep) < (len(ub) + 1) // 2:
        keep = sorted(ub, key=lambda u: u["other_cpu_share"])[:(len(ub) + 1) // 2]
    return {u["unit"]: (u["end"] - u["start"]) / 1e6 for u in keep}


def samples(workload, res, units):
    """(write samples, query samples) in ms: per kept unit, the mean
    latency of its write requests and of its read requests (for
    curation_retrieval the write sample is the whole pass). Every unit of
    a workload issues the same requests, so these do not move with where
    the window happened to end."""
    w, q = [], []
    for u in units:
        ops = [o for o in res["ops"] if o["unit"] == u]
        for kind, out in (("write", w), ("query", q)):
            lat = [ms(o) for o in ops if o["kind"] == kind]
            if lat:
                pass_total = workload == "curation_retrieval" and kind == "write"
                out.append(sum(lat) if pass_total else sum(lat) / len(lat))
    return w, q


def end_to_end(workload, res, extra):
    units = clean_units(res)
    w, q = samples(workload, res, units)
    window = res["window_s"]
    cap = lambda v: v if v != float("inf") else window * 1000.0
    rows = sum(extra["unit_rows"].get(u, 0) for u in units)
    m = {
        "setup_s": (statistics.median(res["setup_reps_s"]), "s"),
        "rows_per_s": (rows / sum(units.values()), "rows/s"),
        "write_p50_ms": (cap(stats.median(w)), "ms"),
        "query_p50_ms": (cap(stats.median(q)), "ms"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
        "bytes_per_user_byte": (extra["bytes_per_user_byte"], "ratio"),
    }
    detail = dict(m)
    kept = [o for o in res["ops"] if o["unit"] in units]
    for name, vals in (("write_tail_ms", [ms(o) for o in kept if o["kind"] == "write"]),
                       ("query_tail_ms", [ms(o) for o in kept if o["kind"] == "query"])):
        t = stats.tail(vals)
        detail[name] = (cap(t[1]), f"ms (p{t[0]:g}, {t[2]} samples beyond, n={len(vals)})") \
            if t else (None, f"ms (omitted: n={len(vals)} supports only the median)")
    detail["failed_op_frac"] = (extra["failed"] / max(1, len(res["ops"])), "ratio")
    return m, detail, len(units)


PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_ms_p50", "ms"), ("spark.near_empty_task_frac", "ratio"),
    ("spark.driver_gap_ms", "ms"), ("spark.executor_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("etl.read_raw.ms", "ms"), ("etl.read_raw.json_scans", "count"),
    ("etl.normalize.rows_in", "count"),
    ("etl.normalize.rows_out", "count"), ("etl.normalize.survivor_frac", "ratio"),
    ("io.sinks.write_star_schema.ms", "ms"), ("io.sinks.bytes_written", "bytes"),
    ("operators.relational.query.ms", "ms"), ("sources.tables.scan_bytes", "bytes"),
    ("sources.keyed.merge_cow.ms", "ms"), ("sources.keyed.merge_mor.ms", "ms"),
    ("sources.keyed.update.ms", "ms"), ("sources.keyed.delete.ms", "ms"),
    ("streaming.keyed_ingest.ms", "ms"), ("sources.keyed.compact.ms", "ms"),
    ("sources.keyed.bytes_written_per_changed_byte", "ratio"),
    ("sources.keyed.key_dirs_rewritten", "count"), ("sources.keyed.key_dirs_carried", "count"),
    ("sources.keyed.lookup.ms", "ms"), ("sources.keyed.agg_read.ms", "ms"),
    ("sources.keyed.changes_read.ms", "ms"), ("sources.keyed.files_read_per_lookup", "count"),
    ("sources.keyed.rows_scanned_per_row_returned", "ratio"),
    ("sources.keyed.commit_conflicts", "count"),
    ("operators.llm_data.curation_pass.ms", "ms"), ("operators.llm_data.memo_builds", "count"),
    ("operators.llm_data.memo_build_ms", "ms"), ("operators.llm_data.retrieval.ms", "ms"),
    ("operators.llm_data.memo_hits", "count"),
    ("operators.llm_data.corpus_scans_per_query", "count"),
    ("operators.llm_data.cached_mb", "MB"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_frac", "ratio"),
]


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(workload, res, extra):
    """Per-layer metrics from the traced units; 0 for a layer the
    workload does not exercise. Also returns self time per span name."""
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    desc = stats.descendants(spans)
    by_span = stats.attribute(res["jobs"], res["stages"])
    reqs = [s for s in spans if s["parent"] == 0]

    def stages_of(span):
        return [st for i in desc[span["id"]] for st in by_span.get(i, [])]

    def dur(s):
        return (s["end"] - s["start"]) / 1000.0

    def named(name):
        return [s for s in spans if s["name"] == name]

    per_req = [stages_of(r) for r in reqs]
    jobs_by_span = {}
    for j in res["jobs"]:
        jobs_by_span[j["span"]] = jobs_by_span.get(j["span"], 0) + 1
    req_spans = {r["id"]: desc[r["id"]] for r in reqs}
    traced_stage_ids = {st["stage"] for sts in per_req for st in sts}
    tasks = [t for t in res["tasks"] if t[0] in traced_stage_ids]
    m = {name: 0.0 for name, _ in PER_LAYER}
    total = lambda key: [sum(st[key] for st in sts) for sts in per_req]
    m["spark.jobs"] = mean([sum(jobs_by_span.get(i, 0) for i in ids) for ids in req_spans.values()])
    m["spark.stages"] = mean([len(sts) for sts in per_req])
    m["spark.tasks"] = mean(total("tasks"))
    m["spark.task_ms_p50"] = med([t[1] for t in tasks])
    m["spark.near_empty_task_frac"] = mean([1.0 if t[2] <= 1 else 0.0 for t in tasks])
    m["spark.driver_gap_ms"] = med([stats.driver_gap_us(r, sts) / 1000.0
                                    for r, sts in zip(reqs, per_req)])
    m["spark.executor_cpu_ms"] = mean([v / 1e6 for v in total("cpu_ns")])
    for key in ("gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "input_bytes", "output_bytes"):
        m[f"spark.{key}"] = mean(total(key))
    ops = {o["id"]: o for o in res["ops"]}
    traced_ops = [o for o in res["ops"] if o["traced"]]
    # SQL executions reach spans (and so requests) by the time they ran
    inner = {id(q): stats.innermost(spans, q["end"] - q["us"] / 2) for q in res["queries"]}
    op_of = {k: s["req"] for k, s in inner.items() if s is not None}

    if workload == "etl_daily":
        # readRaw and normalize only build plans; the JSON scan runs
        # inside the star-schema write, so the read layer is the stages
        # that ran a JSON scan node, found through the executed plans
        # each load's SQL executions report
        loads = [o for o in traced_ops if o["name"] == "etl.daily_load" and o["ok"]]
        scan_ms, n_scans, rows_in, rows_out = [], [], [], []
        for o in loads:
            qs = [q for q in res["queries"] if op_of.get(id(q)) == o["id"]]
            iv = [(st["submitted"], st["completed"])
                  for st in stats.scan_stages(qs, res["stages"], "JSON")]
            scan_ms.append(stats.union_length(iv))
            n_scans.append(sum(1 for q in qs for sc in q.get("scans", [])
                               if sc["format"] == "JSON"))
            rows_in.append(max([r for q in qs for r in q.get("exploded_rows", [])], default=0))
            rows_out.append(sum(w["rows"] for q in qs for w in q.get("writes", [])
                                if w["path"].rstrip("/").endswith("/song_data")))
        m["etl.read_raw.ms"] = med(scan_ms)
        m["etl.read_raw.json_scans"] = med(n_scans)
        m["etl.normalize.rows_in"] = med(rows_in)
        m["etl.normalize.rows_out"] = med(rows_out)
        m["etl.normalize.survivor_frac"] = med([b / a for a, b in zip(rows_in, rows_out) if a])
        ws = named("io.sinks.write_star_schema")
        m["io.sinks.write_star_schema.ms"] = med([dur(s) for s in ws])
        m["io.sinks.bytes_written"] = med([
            sum(w["bytes"] for q in res["queries"] if op_of.get(id(q)) == o["id"]
                for w in q.get("writes", [])) for o in loads])
        qs = named("operators.relational.query")
        m["operators.relational.query.ms"] = med([dur(s) for s in qs])
        m["sources.tables.scan_bytes"] = med([sum(st["input_bytes"] for st in stages_of(s))
                                              for s in qs])
    if workload == "keyed_upsert":
        for op in ("merge_cow", "merge_mor", "update", "delete", "compact",
                   "lookup", "agg_read", "changes_read"):
            m[f"sources.keyed.{op}.ms"] = med([dur(s) for s in named(f"sources.keyed.{op}")])
        m["streaming.keyed_ingest.ms"] = med([dur(s) for s in named("streaming.keyed_ingest")])
        writes = [o for o in traced_ops if o["kind"] == "write" and o["ok"]]
        changed = sum(extra["changed"].get(o["id"], 0) for o in writes)
        new_bytes = sum(o["notes"].get("new_bytes", 0) for o in writes)
        m["sources.keyed.bytes_written_per_changed_byte"] = \
            new_bytes / (changed * 24.0) if changed else 0.0
        m["sources.keyed.key_dirs_rewritten"] = mean(
            [o["notes"].get("key_dirs_rewritten", 0) for o in writes])
        m["sources.keyed.key_dirs_carried"] = mean(
            [o["notes"].get("key_dirs_carried", 0) for o in writes])
        reads = [o for o in traced_ops if o["kind"] == "query" and o["ok"]]
        m["sources.keyed.files_read_per_lookup"] = mean(
            [o["notes"].get("files_planned", 0) for o in reads
             if o["name"] == "sources.keyed.lookup"])
        returned = sum(o["notes"].get("rows_returned", 0) for o in reads)
        m["sources.keyed.rows_scanned_per_row_returned"] = \
            sum(o["notes"].get("rows_scanned", 0) for o in reads) / returned if returned else 0.0
        m["sources.keyed.commit_conflicts"] = float(sum(
            1 for o in res["ops"] if not o["ok"] and o["error"] and
            ("conflict" in o["error"].lower() or "concurrent" in o["error"].lower())))
    if workload == "curation_retrieval":
        units = sorted({o["unit"] for o in traced_ops})
        passes, builds, build_ms, hits = [], [], [], []
        for u in units:
            w = [o for o in traced_ops if o["unit"] == u and o["kind"] == "write"]
            passes.append(sum(ms(o) for o in w))
            cur = [s for s in named("operators.llm_data.curation")
                   if ops[s["req"]]["unit"] == u]
            builds.append(sum(s["new_persisted"] for s in cur))
            build_ms.append(sum(dur(s) for s in cur if s["new_persisted"] > 0))
            ret = [s for s in named("operators.llm_data.retrieval")
                   if ops[s["req"]]["unit"] == u]
            hits.append(sum(1 for s in ret if s["new_persisted"] == 0))
        m["operators.llm_data.curation_pass.ms"] = med(passes)
        m["operators.llm_data.memo_builds"] = mean(builds)
        m["operators.llm_data.memo_build_ms"] = mean(build_ms)
        m["operators.llm_data.memo_hits"] = mean(hits)
        ret = named("operators.llm_data.retrieval")
        m["operators.llm_data.retrieval.ms"] = med([dur(s) for s in ret])
        m["operators.llm_data.corpus_scans_per_query"] = mean(
            [sum(1 for st in stages_of(s) if st["input_bytes"] > 0) for s in ret])
        m["operators.llm_data.cached_mb"] = med([s["cached_bytes"] / 1048576.0 for s in ret])

    # tracing overhead: traced minus untraced units, same run
    unit_ms = {}
    for o in res["ops"]:
        unit_ms.setdefault((o["unit"], o["traced"]), 0.0)
        unit_ms[(o["unit"], o["traced"])] += ms(o)
    tr = [v for (u, t), v in unit_ms.items() if t]
    un = [v for (u, t), v in unit_ms.items() if not t]
    if tr and un:
        m["trace.overhead_ms"] = med(tr) - med(un)
        m["trace.overhead_frac"] = m["trace.overhead_ms"] / med(un)
    sql = {}
    for s in inner.values():
        if s is not None:
            sql[s["name"]] = sql.get(s["name"], 0) + 1
    selfs = stats.self_times(spans)
    by_name = {}
    for sid, v in selfs.items():
        by_name.setdefault(by_id[sid]["name"], []).append(v / 1000.0)
    return m, {k: (med(v), len(v), sql.get(k, 0)) for k, v in sorted(by_name.items())}


# ── main ─────────────────────────────────────────────────────────────

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    repo = os.getcwd()
    if not (os.path.isfile(os.path.join(repo, "build.sbt")) and
            os.path.isdir(os.path.join(repo, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, src/) are missing")
    state = os.path.join(repo, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    classpath = build(repo, state)
    t_start = time.time()
    deadline = time.time() + DEADLINE_S  # a first run may spend longer building

    runs = os.path.join(state, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    jvm = start_jvm(classpath, work, state)
    try:
        g0 = time.time()
        fields, truth = make_inputs(repo, a.workload, a.seed, work)
        gen_s = time.time() - g0
        spec = dict(workload=a.workload, seconds=a.seconds, trace=bool(a.trace),
                    setup_reps=SETUP_REPS[a.workload], warmup_units=WARMUP_UNITS[a.workload],
                    units=max(1, round(a.seconds / SECONDS_PER_UNIT[a.workload])),
                    contended_share=CONTENDED_SHARE, extra_units=EXTRA_UNITS, **fields)
        res = finish_jvm(jvm, work, spec, deadline)
    finally:
        stop_jvm(jvm)
    log(f"perfbench: the measured JVM ended {time.time() - t_start:.1f} s after start")

    # correctness, outside every timed region
    extra = {"failed": sum(1 for o in res["ops"] if not o["ok"])}
    if a.workload == "etl_daily":
        bad, msgs = verify.check_etl(res, truth, fields["corpus"], REPORTS)
        loads = [o for o in res["ops"] if o["name"] == "etl.daily_load"]
        extra["unit_rows"] = {o["unit"]: truth[b["day"]]["items"]
                              for o, b in zip(loads, res["batches"])}
        disk, user = verify.etl_user_bytes(res)
        extra["bytes_per_user_byte"] = disk / user if user else 0.0
    elif a.workload == "keyed_upsert":
        bad, msgs, info = verify.check_keyed(res, spec)
        extra["changed"] = info.get("changed", {})
        extra["unit_rows"] = {}
        for o in res["ops"]:
            n = extra["changed"].get(o["id"], 0)
            extra["unit_rows"][o["unit"]] = extra["unit_rows"].get(o["unit"], 0) + n
        live = info.get("live_rows", 0)
        disk = verify.dir_bytes(res["path_cow"]) + verify.dir_bytes(res["path_mor"])
        extra["bytes_per_user_byte"] = disk / (live * 24.0) if live else 0.0
    else:
        names = set(CURATION + RETRIEVAL)
        bad, msgs = verify.check_oracle(res, fields["corpus"], names)
        b2, m2 = verify.check_topk(res, fields["corpus"])
        bad, msgs = bad + b2, msgs + m2
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(fields["corpus"], "documents.parquet"))
        vecs = pq.read_table(os.path.join(fields["corpus"], "embeddings.parquet"))
        extra["unit_rows"] = {o["unit"]: docs.num_rows for o in res["ops"]}
        # what the session memo holds after the window, per byte of the
        # tables the operators read (as Arrow buffers)
        extra["bytes_per_user_byte"] = res["memo_bytes"] / (docs.nbytes + vecs.nbytes)
    extra["failed"] += len(set(bad))
    correct = not bad and extra["failed"] == 0 and len(res["ops"]) > 0

    log(f"perfbench: checks done {time.time() - t_start:.1f} s after start")
    e2e, detail, kept = end_to_end(a.workload, res, extra)
    box = res["box"]
    print(f"workload {a.workload} seed {a.seed}: {res['units']} units in "
          f"{res['window_s']:.2f} s, {len(res['ops'])} ops; inputs {gen_s:.1f} s, "
          f"session {res['session_s']:.2f} s, warmup {res['warmup_s']:.2f} s; "
          f"start to first timed request {res['window_start'] / 1e6 - t_start:.2f} s")
    print(f"  box: other-process cpu {box['other_cpu_share']:.3f}, iowait "
          f"{box['iowait_share']:.3f}, load1 median {box['load1_median']:.2f}, "
          f"contended {str(box['contended']).lower()}")
    print(f"  units kept for the metrics: {kept} of {res['units']} (other-process share "
          f"<= {CONTENDED_SHARE}, else the least contended half)")
    mb = lambda d: verify.dir_bytes(os.path.join(work, d)) / 1048576.0
    print(f"  working set: inputs {mb('inputs'):.1f} MB, engine state "
          f"{mb('star') + mb('keyed'):.1f} MB; Spark storage memory "
          f"{res['storage_memory_mb']:.0f} MB")
    for name, (v, unit) in detail.items():
        print(f"  {name} = {'n/a' if v is None else f'{v:.6g}'} {unit}")
    for msg in msgs:
        print(f"  WRONG: {msg}")
    if a.trace:
        layers, selfs = per_layer(a.workload, res, extra)
        print("  self time per span name (median ms, spans, SQL executions):")
        for name, (v, n, q) in selfs.items():
            print(f"    {name}: {v:.2f} ms x{n}, {q} sql")
        for name, unit in PER_LAYER:
            print(f"  {name} = {layers[name]:.6g} {unit}")
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER}
        with open(os.path.join(state, f"trace-{a.workload}.json"), "w") as f:
            json.dump({k: res[k] for k in ("spans", "jobs", "stages", "queries")}, f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if correct:  # a wrong run keeps its work directory for inspection
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(res["ops"]),
                      "failed": extra["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
