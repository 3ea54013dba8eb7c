#!/usr/bin/env python3
"""CDC-freshness and query benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_mor --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt, offline), generates the
workload inputs from the seed (cached under .bench_work/inputs), runs the
harness JVM, checks every answer, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
metrics; a traced run also writes its spans to .bench_work/spans/. The
line before it holds the run's notes and end-to-end figures, which
--compare reads.

    python3 perfbench/run.py --compare PARENT.jsonl CHANGE.jsonl

compares two sets of runs (one notes line per run) by the rules in
perfbench/README.md.

Exit status is 0 only when the run completed and every answer was right.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # imports below stay free of __pycache__ dirs
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
# the sf0.1 test tables at their documented location (TESTDATA.md), with the
# override the engine's own Bench honours
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEADLINE_S = 170  # the whole run, build excepted, must end within this

# Workload parameters (README.md says why each size and rate was chosen).
# cdc_mor lands change files for LAND_SHARE of --seconds, drains, and reads
# the mirror for READ_SHARE; queries runs timed passes for LAND_SHARE (at
# least min_passes) and scan reads for READ_SHARE.
LAND_SHARE, READ_SHARE = 0.4, 0.3
WORKLOADS = {
    "cdc_mor": dict(kind="cdc", keys=300_000, rows_per_file=100, warm_files=9,
                    interval_ms=100, setup_reps=3, buckets=16, min_reads=6,
                    read_pending=7),
    "queries": dict(kind="queries", per_family=1, sample_seed=1, min_passes=1,
                    min_reads=4),
}

END_TO_END = ["setup_s", "latency_s", "latency_tail_s", "read_p50_s", "space_amp"]
FAMILIES = ["Queries", "TextAnalysis", "Dedup", "Similarity", "Multimodal",
            "Curation", "ScaleOps", "EmbedOps"]
PER_LAYER = [
    "streaming.latest_offset_s", "streaming.get_batch_s",
    "streaming.query_planning_s", "streaming.add_batch_s",
    "streaming.wal_commit_s", "streaming.trigger_s", "streaming.batches",
    "streaming.files_per_batch", "streaming.busy_frac",
    "streaming.queue_wait_s", "streaming.backlog_max_files",
    "batch.changelog_append_s", "batch.mirror_commit_s",
    "batch.after_publish_s",
    "commit.swaps", "commit.create_exclusive", "commit.create_dir_exclusive",
    "commit.links", "commit.discards", "commit.lock_breaks",
    "commit.cas_conflicts", "commit.io_s",
    "plans.compactions", "plans.compact_batch_s", "plans.pending_deltas_at_read",
    "catalyst.actions", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "catalyst.aqe_updates",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.records_read", "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.output_bytes", "spark.spill_bytes",
    "fs.bytes_read", "fs.bytes_written", "read.fs_bytes_read", "read.records_read",
    "fold.records_read_per_change", "fs.bytes_written_per_change_byte",
    "driver.gap_s",
] + [f"queries.{f}_s" for f in FAMILIES] + ["jvm.heap_live_mb", "gen.lateness_max_s"]
UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_per_change": "ratio",
         "_per_change_byte": "ratio", "space_amp": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] {need} not found: run from the root "
                             "of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_f, cp_f = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_f) and os.path.exists(stamp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read()
    log("building engine and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    with open(cp_f, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def cdc_inputs(workload, p, seed, n_timed):
    """Generated once per (workload, seed, size); generation stays out of
    every timed or set-up figure. The files after the timed ones are the
    read phase's top-ups (at most `read_pending`)."""
    sys.path.insert(0, HERE)
    import gen
    n_files = p["warm_files"] + n_timed + p["read_pending"]
    key = (f"{workload}-s{seed}-k{p['keys']}-r{p['rows_per_file']}-f{n_files}"
           f"-t{p['read_pending']}")
    d = os.path.join(WORK, "inputs", key)
    if os.path.exists(os.path.join(d, "files.txt")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    files = gen.generate(tmp, seed, p["keys"], n_files, p["rows_per_file"],
                         snapshots=p["read_pending"])
    with open(os.path.join(tmp, "files.txt"), "w") as f:
        f.write("\n".join(files) + "\n")
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


# -------------------------------------------------------------------- run

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def run_jvm(cp, args, run_dir, budget_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"[perfbench] harness JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(args["out"]) as f:
        return json.load(f)


# ------------------------------------------------------------------ stats

LADDER = [50, 75, 90, 95, 99]


def percentile(xs, p):
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def number(x):
    """A metric with no samples (only in a failed run) prints as 0, not NaN."""
    x = float(x)
    return 0.0 if x != x else x


def tail_pct(n):
    """Highest ladder percentile with at least ten samples beyond it."""
    best = 50
    for p in LADDER:
        if n * (100 - p) / 100.0 >= 10:
            best = p
    return best


def union_len(intervals, lo=None, hi=None):
    iv = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                for a, b in intervals if a is not None and b is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def cpu_times():
    """The aggregate cpu line of /proc/stat (jiffies), or None elsewhere."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def dir_bytes(d):
    total = 0
    for root, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


# ---------------------------------------------------------- cdc analysis

def source_log(checkpoint):
    """file name -> micro-batch id, from the stream's own file-source log."""
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def check_mirror(final_state, expected):
    import duckdb
    con = duckdb.connect(config={"threads": "2", "memory_limit": "1GB"})
    a = f"read_parquet('{final_state}/*.parquet')"
    b = f"read_parquet('{expected}')"
    q = (f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})),"
         f" (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})),"
         f" (SELECT count(*) FROM {b})")
    extra, missing, n = con.sql(q).fetchone()
    con.close()
    return extra == 0 and missing == 0, f"{n} expected rows; {extra} extra, {missing} missing"


def compacting(t, pauses):
    """Whether t falls in the compaction step of one of the pauses."""
    return any(w["compact"] <= t <= w["end"] for w in pauses)


def analyse_cdc(raw, p, inputs, trace):
    lands = raw["lands"]
    batch_of = source_log(raw["checkpoint"])
    # a batch is published by the rename of its delta directory
    publish = {e["batch"]: e["t"] for e in raw["delta_publishes"]}
    # compactions the stream ran by itself inside the timed window: the
    # generator's pauses are meant to rule them out (README.md, "Load
    # model"), so one means that rule no longer holds and the run fails
    stream_compactions = sum(
        1 for s in raw["swaps"] if s["pointer"] == raw["base_pointer"]
        and raw["timed_start"] <= s["t"] <= raw["drained"] and not compacting(s["t"], raw["pauses"]))
    fresh, unpublished = [], 0
    for l in lands:
        b = batch_of.get(l["file"])
        t = publish.get(b) if b is not None else None
        if t is None:
            unpublished += 1
        else:
            fresh.append((t - l["due"]) / 1000.0)
    reads = [(r["end"] - r["start"]) / 1000.0 for r in raw["reads"]]
    landed = raw["changes_landed"]
    ok, detail = check_mirror(raw["final_state"],
                              os.path.join(inputs, f"expected-{landed}.parquet"))
    src_bytes = sum(os.path.getsize(os.path.join(inputs, f)) for f in
                    ["LOAD00000001.parquet"] + open(os.path.join(inputs, "files.txt")).read().split()[:landed])
    n = len(fresh)
    tp = tail_pct(n)
    # a benchmark that skipped the work must fail loudly
    timed_batches = {batch_of[l["file"]] for l in lands if l["file"] in batch_of}
    unseen = [name for name, seen in [
        ("delta publication", publish), ("pointer swap", raw["swaps"]),
        ("timed micro-batch", [b for b in raw["progress"] if b["batch"] in timed_batches]),
    ] + ([("Spark job", raw["spark"]["jobs"]), ("Catalyst action", raw["spark"]["actions"])]
         if trace else []) if not seen]
    out = {
        "attempted": len(lands) + len(reads),
        "failed": unpublished + (0 if ok else 1) + len(unseen) + stream_compactions,
        "correct": ok and unpublished == 0 and not unseen and not stream_compactions,
        "metrics": {
            "setup_s": (raw["session_ready"] - raw["jvm_start"]) / 1000.0
            + statistics.median(raw["setup_reps_s"]) + raw["warm_rest_s"],
            "latency_s": percentile(fresh, 50),
            "latency_tail_s": percentile(fresh, tp),
            "read_p50_s": percentile(reads, 50),
            "space_amp": dir_bytes(raw["warehouse"]) / src_bytes,
        },
        "notes": {"check": detail, "collectors_without_work": unseen,
                  "freshness_n": n, "tail_pct": tp,
                  "reads_n": len(reads), "read_tail_s": percentile(reads, tail_pct(len(reads))),
                  "pending_deltas_at_read": raw["pending_deltas_at_read"],
                  "setup_reps_s": raw["setup_reps_s"],
                  "pauses": len(raw["pauses"]),
                  "pause_s": sum(w["end"] - w["start"] for w in raw["pauses"]) / 1000.0,
                  "stream_compactions_in_window": stream_compactions,
                  "timed_gc_s": raw["gc_timed_ms"] / 1000.0},
    }
    if trace:
        out["layers"], out["spans"] = cdc_layers(raw, p, inputs, lands, batch_of, publish)
    return out


def interval(x):
    return (x.get("start"), x.get("end"))


def common_layers(raw, lo, hi, jobs_filter):
    """Catalyst, Spark-job and FS figures for the window [lo, hi]."""
    sp = raw["spark"]
    jobs = [j for j in sp["jobs"] if j.get("end") and lo <= j["start"] <= hi and jobs_filter(j)]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in sp["stages"] if s["id"] in stage_ids]
    acts = [a for a in sp["actions"] if a["phases"]
            and lo <= min(v["start"] for v in a["phases"].values()) <= hi]

    def ph(name):
        return sum((a["phases"][name]["end"] - a["phases"][name]["start"]) / 1000.0
                   for a in acts if name in a["phases"])

    def st(k):
        return sum(s.get(k, 0) or 0 for s in stages)
    m = {
        "catalyst.actions": len(acts),
        "catalyst.analysis_s": ph("analysis"),
        "catalyst.optimization_s": ph("optimization"),
        "catalyst.planning_s": ph("planning"),
        "catalyst.aqe_updates": sum(1 for t in sp["aqe_updates"] if lo <= t <= hi),
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.tasks": st("tasks"),
        "spark.job_wall_s": union_len([interval(j) for j in jobs]) / 1000.0,
        "spark.executor_run_s": st("executor_run_ms") / 1000.0,
        "spark.executor_cpu_s": st("executor_cpu_ns") / 1e9,
        "spark.gc_s": st("gc_ms") / 1000.0,
    }
    for k in ["records_read", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "output_bytes", "spill_bytes"]:
        m["spark." + k] = st(k)
    for k in ["bytes_read", "bytes_written"]:
        m["fs." + k] = raw["fs_after"][k] - raw["fs_before"][k]
    planning = [(v["start"], v["end"]) for a in acts for v in a["phases"].values()]
    return m, jobs, stages, acts, planning


def cdc_layers(raw, p, inputs, lands, batch_of, publish):
    lo, hi = raw["timed_start"] - 1, raw["drained"]
    timed_batches = {batch_of[l["file"]] for l in lands if l["file"] in batch_of}
    prog = [b for b in raw["progress"] if b["batch"] in timed_batches]
    dur = lambda b, k: b["duration_ms"].get(k, 0) / 1000.0
    med = lambda xs: statistics.median(xs) if xs else 0.0
    m, jobs, stages, acts, planning = common_layers(
        raw, lo, hi, lambda j: j["batch"] is not None and int(j["batch"]) in timed_batches)
    for k, name in [("latestOffset", "latest_offset_s"), ("getBatch", "get_batch_s"),
                    ("queryPlanning", "query_planning_s"), ("addBatch", "add_batch_s"),
                    ("walCommit", "wal_commit_s"), ("triggerExecution", "trigger_s")]:
        m["streaming." + name] = med([dur(b, k) for b in prog])
    m["streaming.batches"] = len(prog)
    m["streaming.files_per_batch"] = len(lands) / max(1, len(prog))
    paused = sum(w["end"] - w["compact"] for w in raw["pauses"])
    m["streaming.busy_frac"] = (sum(dur(b, "triggerExecution") for b in prog)
                                / ((hi - lo - paused) / 1000.0))
    bstart = {b["batch"]: b["start"] for b in prog}
    bend = {b["batch"]: b["start"] + b["duration_ms"].get("triggerExecution", 0) for b in prog}
    waits, events = [], []
    for l in lands:
        b = batch_of.get(l["file"])
        if b in bstart:
            waits.append((bstart[b] - l["landed"]) / 1000.0)
            events += [(l["landed"], 1), (bstart[b], -1)]
    m["streaming.queue_wait_s"] = med(waits)
    depth = peak = 0
    for _, d in sorted(events, key=lambda e: (e[0], e[1])):
        depth += d
        peak = max(peak, depth)
    m["streaming.backlog_max_files"] = peak

    # batch phases, cut at the changelog write's end and the publication
    sql = raw["spark"]["sql"]
    cl_end = {}
    phases = {"changelog": [], "mirror": [], "after": []}
    changelog_dir = "bench_table_changelog/batch_"
    for e in sql:
        t = e.get("target") or ""
        if e.get("end") and changelog_dir in t:
            try:
                b = int(t.split(changelog_dir)[1].split("/")[0])
            except ValueError:
                continue
            cl_end[b] = e["end"]
    first_job = {}
    for j in jobs:
        b = int(j["batch"])
        first_job[b] = min(first_job.get(b, j["start"]), j["start"])
    for b in bstart:
        if b in cl_end and b in publish and b in first_job:
            phases["changelog"].append((cl_end[b] - first_job[b]) / 1000.0)
            phases["mirror"].append((publish[b] - cl_end[b]) / 1000.0)
            phases["after"].append((bend[b] - publish[b]) / 1000.0)
    m["batch.changelog_append_s"] = med(phases["changelog"])
    m["batch.mirror_commit_s"] = med(phases["mirror"])
    m["batch.after_publish_s"] = med(phases["after"])

    io0, io1 = raw["io_before"], raw["io_after"]
    for k in ["swaps", "create_exclusive", "create_dir_exclusive", "links",
              "discards", "lock_breaks", "cas_conflicts"]:
        m["commit." + k] = io1.get(k, 0) - io0.get(k, 0)
    m["commit.io_s"] = (io1.get("io_ns", 0) - io0.get("io_ns", 0)) / 1e9
    # compactions of the final pipeline, set-up and the generator's pauses
    # included (the layout's initialization stages its base elsewhere and
    # moves it in)
    compact_swaps = [s for s in raw["swaps"] if s["pointer"] == raw["base_pointer"]]
    final = [b for b in raw["progress"] if b["start"] >= raw["setup_reps_end"]]
    m["plans.compactions"] = len(compact_swaps)
    m["plans.compact_batch_s"] = med([
        dur(b, "triggerExecution") for b in final
        if any(b["start"] <= s["t"] <= b["start"] + b["duration_ms"].get("triggerExecution", 0)
               for s in compact_swaps)])
    m["plans.pending_deltas_at_read"] = raw["pending_deltas_at_read"]
    m["read.fs_bytes_read"] = raw["fs_read_after"]["bytes_read"] - raw["fs_read_before"]["bytes_read"]
    read_jobs = [j for j in raw["spark"]["jobs"] if (j.get("group") or "").startswith("read:")]
    read_stages = {s for j in read_jobs for s in j["stages"]}
    m["read.records_read"] = sum(s.get("records_read", 0) or 0
                                 for s in raw["spark"]["stages"] if s["id"] in read_stages)
    change_rows = len(lands) * p["rows_per_file"]
    change_bytes = sum(os.path.getsize(os.path.join(inputs, l["file"])) for l in lands)
    m["fold.records_read_per_change"] = m["spark.records_read"] / change_rows
    m["fs.bytes_written_per_change_byte"] = m["fs.bytes_written"] / change_bytes
    gap = 0.0
    for b in prog:
        a, z = b["start"], bend[b["batch"]]
        covered = union_len([interval(j) for j in jobs if int(j["batch"]) == b["batch"]]
                            + planning, a, z)
        gap += max(0.0, (z - a) - covered) / 1000.0
    m["driver.gap_s"] = gap
    for f in FAMILIES:
        m[f"queries.{f}_s"] = 0.0
    m["jvm.heap_live_mb"] = raw["heap_live_mb"]
    m["gen.lateness_max_s"] = max((l["landed"] - l["due"]) / 1000.0 for l in lands)

    spans = [dict(name="workload", id="w", parent=None, start=lo, end=hi, req=None)]
    for l in lands:
        b = batch_of.get(l["file"])
        spans.append(dict(name="file", id="f:" + l["file"], parent="w", start=l["due"],
                          end=publish.get(b), req=l["file"]))
    for b in prog:
        spans.append(dict(name="batch", id=f"b:{b['batch']}", parent="w", start=b["start"],
                          end=bend[b["batch"]], req=f"batch-{b['batch']}"))
        n = b["batch"]
        if n in cl_end and n in publish and n in first_job:
            for name, a, z in [("phase.changelog_append", first_job[n], cl_end[n]),
                               ("phase.mirror_commit", cl_end[n], publish[n]),
                               ("phase.after_publish", publish[n], bend[n])]:
                spans.append(dict(name=name, id=f"p:{n}:{name}", parent=f"b:{n}",
                                  start=a, end=z, req=f"batch-{n}"))
    phase_spans = [x for x in spans if x["name"].startswith("phase.")]

    def parent_of(j):
        # the batch phase the job started in, else its batch
        b = f"b:{int(j['batch'])}"
        return next((x["id"] for x in phase_spans if x["parent"] == b
                     and x["start"] <= j["start"] < x["end"]), b)
    job_spans(spans, jobs, stages, acts, parent_of, lambda j: f"batch-{int(j['batch'])}")
    return m, spans


def job_spans(spans, jobs, stages, acts, parent_of, req_of):
    by_id = {s["id"]: s for s in stages}
    for j in jobs:
        spans.append(dict(name="spark.job", id=f"j:{j['id']}", parent=parent_of(j),
                          start=j["start"], end=j["end"], req=req_of(j)))
        for sid in j["stages"]:
            s = by_id.get(sid)
            if s and s.get("submitted") and s.get("completed"):
                spans.append(dict(name="spark.stage", id=f"s:{sid}", parent=f"j:{j['id']}",
                                  start=s["submitted"], end=s["completed"], req=req_of(j)))
    # Catalyst phases go under the innermost batch phase, batch or query
    # whose window holds their start
    owners = sorted((s for s in spans if s["end"] and (
        s["name"] in ("batch", "query") or s["name"].startswith("phase."))),
        key=lambda s: not s["name"].startswith("phase."))
    for i, a in enumerate(acts):
        for ph, v in a["phases"].items():
            own = next((o for o in owners if o["start"] <= v["start"] <= o["end"]), None)
            spans.append(dict(name=f"catalyst.{ph}", id=f"c:{i}:{ph}",
                              parent=own["id"] if own else "w", start=v["start"],
                              end=v["end"], req=own["req"] if own else None))


def self_times(spans):
    """Self time per span name: duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["start"] is None or s["end"] is None:
            continue
        dur = s["end"] - s["start"]
        covered = union_len([(c["start"], c["end"]) for c in kids.get(s["id"], [])
                             if c["name"] != "file"], s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, dur - covered) / 1000.0
    return out


# ------------------------------------------------------ queries analysis

# The connection budget of tools/check_correctness.py: its comment says
# the sf0.1 all-pairs ANN oracles need it.
ORACLE_DUCKDB = {"memory_limit": "24GB", "threads": "16"}


def check_queries(dump, sample):
    """Checks each warm-pass dump against its DuckDB oracle
    (`SparkEntry.oracleSql`) by the steps of tools/check_correctness.py,
    with that tool's own functions: same column names, row count, arrow
    types (`schema_types`) and canonical sorted values (`frame_key`).
    Evaluating the oracles takes about 25 s a run at sf0.1, so each
    answer that the oracle produced is kept, as its column names, types,
    row count and a digest of `frame_key`, per (SQL, data directory) under
    .bench_work/oracle/; the engine's dump is compared on every run. An
    oracle that runs out of capacity is a SKIP, reported and never cached,
    so the next run tries it again. Returns query -> PASS, FAIL or SKIP."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness as cc
    import duckdb
    import pyarrow.parquet as pq
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect(config=dict(ORACLE_DUCKDB,
                                     temp_directory=os.path.join(cache_dir, "spill")))
    for t in cc.TABLES:
        pth = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(pth):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{pth}'")

    def digest(cols, rows):
        return hashlib.sha256("\n".join(cc.frame_key(cols, rows)).encode()).hexdigest()
    verdict = {}
    t0 = time.time()
    for q in sample:
        if q not in oracle:
            verdict[q] = "FAIL"
            continue
        key = hashlib.sha256((SF_DIR + "\0" + oracle[q]).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            want = json.load(open(cached))
        else:
            try:
                o = con.sql(oracle[q])
                cols = [c.lower() for c in o.columns]
                types = cc.schema_types(o.arrow().schema, cols)
                rows = o.fetchall()
            except duckdb.OutOfMemoryException as e:
                log(f"SKIP {q}: oracle capacity (duckdb out of memory): {e}")
                verdict[q] = "SKIP"
                continue
            want = {"cols": sorted(cols), "n": len(rows), "types": types,
                    "digest": digest(cols, rows)}
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        d = os.path.join(dump, q)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            verdict[q] = "FAIL"
            continue
        got = con.sql(f"SELECT * FROM '{dump}/{q}/*.parquet'")
        cols = [c.lower() for c in got.columns]
        rows = got.fetchall()
        types = cc.schema_types(pq.read_schema(os.path.join(dump, q, files[0])), cols)
        ok = (sorted(cols) == want["cols"] and len(rows) == want["n"]
              and types == want["types"] and digest(cols, rows) == want["digest"])
        verdict[q] = "PASS" if ok else "FAIL"
        if not ok:
            log(f"FAIL {q}: result differs from its oracle")
    con.close()
    log(f"oracle check of {len(sample)} queries took {time.time() - t0:.1f} s")
    return verdict


def analyse_queries(raw, trace):
    runs = raw["runs"]
    times = {}
    errors = 0
    for r in runs:
        if r["error"]:
            errors += 1
        else:
            times.setdefault(r["query"], []).append((r["end"] - r["start"]) / 1000.0)
    sample = sorted(raw["families"])
    verdict = check_queries(raw["dump"], sample)
    for w in raw["warm"]:
        if w["error"]:
            verdict[w["query"]] = "FAIL"
    wrong = [q for q in sample if verdict.get(q) == "FAIL"]
    skipped = [q for q in sample if verdict.get(q) == "SKIP"]
    unchecked = [q for q in sample if q not in verdict]
    medians = {q: statistics.median(ts) for q, ts in times.items()}
    slow_half = sorted(medians.values())[len(medians) // 2:]
    # each read sample times several scans in a row; report per scan
    reads = [(r["end"] - r["start"]) / 1000.0 / r["scans"] for r in raw["reads"]]
    in_bytes = dir_bytes(SF_DIR)
    unseen = []
    if trace:
        groups = {j["group"] for j in raw["spark"]["jobs"]}
        unseen = [f"Spark job for {r['query']} pass {r['pass']}" for r in runs
                  if f"q:{r['query']}:{r['pass']}" not in groups]
        if not raw["spark"]["actions"]:
            unseen.append("Catalyst action")
    out = {
        "attempted": len(runs) + len(reads) + len(sample),
        "failed": errors + len(wrong) + len(unchecked) + len(unseen),
        "correct": not wrong and not unchecked and errors == 0 and not unseen,
        "metrics": {
            "setup_s": (raw["setup_end"] - raw["jvm_start"]) / 1000.0,
            # mean over the sample of each query's median time, and that
            # mean over the slower half of the sample (README.md says why
            # not percentiles over executions)
            "latency_s": statistics.mean(medians.values()) if medians else 0.0,
            "latency_tail_s": statistics.mean(slow_half) if slow_half else 0.0,
            "read_p50_s": percentile(reads, 50),
            # result dumps plus the scratch warehouses the queries leave
            "space_amp": (dir_bytes(raw["dump"]) + dir_bytes(
                os.path.join(os.path.dirname(raw["dump"]), "tmp"))) / in_bytes,
        },
        "notes": {"queries": len(sample), "executions": sum(map(len, times.values())),
                  "passes": 1 + max((r["pass"] for r in runs), default=-1),
                  "collectors_without_work": unseen,
                  "query_total_s": sum(medians.values()),
                  "query_median_s": medians,
                  "timed_gc_s": raw["gc_timed_ms"] / 1000.0,
                  "oracle_skips": skipped, "wrong": wrong, "unchecked": unchecked},
    }
    if trace:
        lo, hi = raw["timed_start"], raw["timed_end"]
        m, jobs, stages, acts, planning = common_layers(
            raw, lo, hi, lambda j: (j["group"] or "").startswith("q:"))
        for k in PER_LAYER:
            m.setdefault(k, 0.0)
        fam = {}
        for q, t in medians.items():
            f = raw["families"][q]
            fam[f] = fam.get(f, 0.0) + t
        for f in FAMILIES:
            m[f"queries.{f}_s"] = fam.get(f, 0.0)
        m["jvm.heap_live_mb"] = raw["heap_live_mb"]
        gap = 0.0
        for r in runs:
            covered = union_len([interval(j) for j in jobs if j["group"] ==
                                 f"q:{r['query']}:{r['pass']}"] + planning, r["start"], r["end"])
            gap += max(0.0, (r["end"] - r["start"]) - covered) / 1000.0
        m["driver.gap_s"] = gap
        spans = [dict(name="workload", id="w", parent=None, start=lo, end=hi, req=None)]
        for r in runs:
            spans.append(dict(name="query", id=f"q:{r['query']}:{r['pass']}", parent="w",
                              start=r["start"], end=r["end"], req=f"{r['query']}#{r['pass']}"))
        job_spans(spans, jobs, stages, acts, lambda j: j["group"],
                  lambda j: j["group"][2:])
        out["layers"], out["spans"] = m, spans
    return out


# ------------------------------------------------------------------ main

def run(workload, seed, seconds, trace):
    cp = build()
    t_begin = time.time()
    p = WORKLOADS[workload]
    cpu0 = cpu_times()
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "cores": cores(), "work": run_dir,
            "out": os.path.join(run_dir, "raw.json"),
            "min_reads": p["min_reads"]}
    if p["kind"] == "cdc":
        n_timed = round(LAND_SHARE * seconds * 1000 / p["interval_ms"])
        inputs = cdc_inputs(workload, p, seed, n_timed)
        args.update(inputs=inputs, warm_files=p["warm_files"], timed_files=n_timed,
                    read_pending=p["read_pending"],
                    read_seconds=READ_SHARE * seconds,
                    interval_ms=p["interval_ms"], setup_reps=p["setup_reps"],
                    buckets=p["buckets"])
        raw = run_jvm(cp, args, run_dir, DEADLINE_S - (time.time() - t_begin))
        res = analyse_cdc(raw, p, inputs, trace)
    else:
        if not os.path.isdir(SF_DIR):
            raise SystemExit(f"[perfbench] {SF_DIR} not found")
        args.update(sf=SF_DIR, per_family=p["per_family"], sample_seed=p["sample_seed"],
                    min_passes=p["min_passes"], query_seconds=LAND_SHARE * seconds,
                    read_seconds=READ_SHARE * seconds)
        # 30 s stay for the oracle check
        raw = run_jvm(cp, args, run_dir, DEADLINE_S - 30 - (time.time() - t_begin))
        res = analyse_queries(raw, trace)
    host = {"nproc": os.cpu_count(), "local_n": cores(), "heap": HEAP,
            "spark_conf": raw["spark_conf"]}
    cpu1 = cpu_times()
    if cpu0 and cpu1 and len(cpu1) > 7 and sum(cpu1) > sum(cpu0):
        # share of the machine's CPU time the hypervisor gave to others
        host["cpu_steal_frac"] = (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0))
    names = PER_LAYER if trace else END_TO_END
    values = res["layers"] if trace else res["metrics"]
    if trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        span_file = os.path.join(WORK, "spans", f"{workload}-{seed}.jsonl")
        with open(span_file, "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
        st = self_times(res["spans"])
        res["notes"]["span_file"] = span_file
        res["notes"]["self_time_s"] = {k: round(v, 4) for k, v in sorted(st.items())}
    res["notes"]["host"] = host
    shutil.copy(args["out"], os.path.join(WORK, f"last-{workload}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"workload": workload, "seed": seed, "trace": int(trace),
                      "notes": res["notes"],
                      "end_to_end": {k: number(res["metrics"][k]) for k in END_TO_END}}))
    result = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
              "failed": int(res["failed"]),
              "metrics": {k: {"value": number(values[k]), "unit": unit_of(k)} for k in names}}
    print(json.dumps(result), flush=True)
    return 0 if res["correct"] else 1


# --------------------------------------------------------------- compare

def compare(parent_file, change_file):
    """Per workload and end-to-end metric: medians, quartiles, pair wins,
    and the verdict (improved / no worse than the bound / worse /
    unresolved), pairing runs in file order."""
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}

    def load(path):
        out = {}
        for line in open(path):
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            for k, v in r["end_to_end"].items():
                out.setdefault(r["workload"], {}).setdefault(k, []).append(v)
        return out
    par, chg = load(parent_file), load(change_file)
    rows = []
    for w in sorted(par):
        for k in END_TO_END:
            a, b = par[w].get(k, []), chg.get(w, {}).get(k, [])
            if len(a) < 4 or len(b) < 4:
                continue
            qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
            ma, mb = statistics.median(a), statistics.median(b)
            lower = spec[k]["better"] == "lower"
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            wins = sum(1 for x, y in zip(a, b) if better(y, x))
            ties = sum(1 for x, y in zip(a, b) if x == y)
            pairs = min(len(a), len(b))
            spread = qa[2] - qa[0]
            worse_by = ((mb - ma) if lower else (ma - mb)) / ma
            if wins >= 0.9 * pairs and abs(mb - ma) > spread and better(mb, ma):
                verdict = "improved"
            elif spread / ma > spec[k]["bound"]:
                verdict = ("no worse than bound" if all(better(y, x) for x in a for y in b)
                           else "unresolved")
            elif worse_by <= spec[k]["bound"]:
                verdict = "no worse than bound"
            else:
                verdict = "worse"
            rows.append(dict(workload=w, metric=k, parent_median=ma, parent_q1=qa[0],
                             parent_q3=qa[2], change_median=mb, change_q1=qb[0],
                             change_q3=qb[2], change_wins=wins, ties=ties, pairs=pairs,
                             verdict=verdict))
    for r in rows:
        print(json.dumps(r))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"))
    a = ap.parse_args()
    if a.compare:
        return compare(*a.compare)
    if not a.workload:
        ap.error("--workload is required")
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
