#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <stream_logs|batch_interactive|batch_heavy>
                             --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) and generates the input tables; later
runs reuse both while the sources are unchanged. Everything written goes
under $CARGO_TARGET_DIR (default `.bench_build`) in the checkout.

Each run launches one fresh workload JVM. It prints every end-to-end metric
with its unit, `error_rate` and any failed check, and as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 1
it runs the workload with tracing on, writes the span file and the
per-layer report, and prints the per-layer metrics and the tracing
overhead: the traced end-to-end metrics minus the untraced ones of the same
seed, or minus the medians of the untraced runs already made in this build
directory, or, when there are none, of an untraced run made first.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import streamgen  # noqa: E402

WORKLOADS = ("stream_logs", "batch_interactive", "batch_heavy")
JVM_TIMEOUT_S = 160
JVM_HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class CheckFailed(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_stamp(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compiles engine + harness with sbt unless the sources are unchanged."""
    classes = os.path.join(out, "classes", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    log("[perfbench] building engine and harness (sbt compile)")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.target={os.path.join(out, 'classes')}",
           "compile"]
    with open(os.path.join(out, "build.log"), "w") as lf:
        rc = subprocess.run(cmd, cwd=HERE, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0 or not os.path.isdir(classes):
        raise SystemExit(f"[perfbench] build failed (see {out}/build.log)")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def table_dir(out, sf):
    """Input tables at scale factor sf, generated once per checkout."""
    d = os.path.join(out, "data", f"sf{sf}")
    stamp = hashlib.sha256(open(datagen.__file__, "rb").read()).hexdigest()
    sf_stamp = os.path.join(d, "datagen.stamp")
    if not (os.path.exists(sf_stamp) and open(sf_stamp).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf)
        with open(sf_stamp, "w") as f:
            f.write(stamp)
    return d


def cores():
    return len(os.sched_getaffinity(0))


def launch(out, classes, args, work, tag):
    """Runs one workload JVM to completion; returns its result object.
    Vector indexes the queries build are kept under `out` for later runs,
    as a deployment keeps them: the cold pass pays for them only once."""
    os.makedirs(work, exist_ok=True)
    result = os.path.join(work, f"{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(out, "index"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{spark_jars}", "perfbench.Main",
            "--out", result, "--work", work, "--launch-ns", str(time.time_ns())] + args)
    with open(os.path.join(work, f"{tag}.log"), "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise CheckFailed(f"{tag} JVM timed out after {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        tail = open(os.path.join(work, f"{tag}.log")).read()[-2000:]
        raise CheckFailed(f"{tag} JVM exited with {rc}: {tail}")
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- workloads

def segments(sc, seconds):
    """Records per open-loop segment of T1 and T2: each round's share of
    --seconds at the offered rate, T1 taking `t1_latency_share` of it."""
    per_round = sc["offered_rate_rps"] * seconds / sc["rounds"]
    t1 = int(per_round * sc["t1_latency_share"])
    return {"t1": t1, "t2": int(per_round) - t1}


def closed_loop_records(sc):
    """Records a pipeline takes in closed loop: the cold chunk and the
    capacity chunks of every round."""
    return sc["chunk_records"] * (1 + sc["rounds"] * sc["round_chunks"])


def stream_inputs(cfg, seed, seconds, out):
    sc = cfg["stream_logs"]
    n = closed_loop_records(sc) + sc["rounds"] * segments(sc, seconds)["t2"]
    recs = streamgen.generate(seed, n, sc["event_step_ms"], sc["disorder_ms"], sc["hot_ids"],
                              sc["hot_share"], sc["tail_ids"])
    path = os.path.join(out, f"stream-{seed}-{n}.tsv")
    streamgen.write_tsv(recs, path)
    return recs, path


def stream_args(cfg, path, seconds):
    sc = cfg["stream_logs"]
    seg = segments(sc, seconds)
    return ["--input", path, "--chunk", str(sc["chunk_records"]),
            "--rounds", str(sc["rounds"]),
            "--round-chunks", str(sc["round_chunks"]),
            "--t1-segment", str(seg["t1"]), "--t2-segment", str(seg["t2"]),
            "--rate", str(sc["offered_rate_rps"])]


def chunk_ms(res, pipe):
    """Capacity-phase chunk times of one pipeline, over every round."""
    return [x for p in res["phases"] if p["pipeline"] == pipe and p["phase"] == "capacity"
            for x in p["chunk_ms"]]


def analyze_stream(res, recs, cfg, checks):
    sc = cfg["stream_logs"]
    fed = {p: max(ph["until"] for ph in res["phases"] if ph["pipeline"] == p)
           for p in ("t1", "t2")}
    expected = {"t1": streamgen.reference_t1(recs[:fed["t1"]]),
                "t2": streamgen.reference_t2(recs[:fed["t2"]], sc["window_ms"])}
    ids = {seq for seq, _, rid, _ in recs[:fed["t2"]] if rid is not None}
    m, failed = {}, 0
    for pipe in ("t1", "t2"):
        got = [k for b in res["output"][pipe] for k in b["keys"]]
        got_set = set(got)
        bad = len(got_set ^ expected[pipe]) + (len(got) - len(got_set))
        if bad:
            checks.append(f"{pipe}: {bad} of {fed[pipe]} records emitted wrongly "
                          f"({len(got_set - expected[pipe])} extra, "
                          f"{len(expected[pipe] - got_set)} missing)")
        failed += bad
        phases = [p for p in res["phases"] if p["pipeline"] == pipe]
        # capacity at the median chunk time: one slow chunk does not move it
        chunks = chunk_ms(res, pipe)
        m[f"{pipe}_capacity_rps"] = sc["chunk_records"] / (stats.median(chunks) / 1e3)
        m[f"{pipe}_capacity_s"] = len(chunks) * sc["chunk_records"] / m[f"{pipe}_capacity_rps"]
        lats = [p for p in phases if p["phase"] == "latency"]
        per_segment = []
        for lat in lats:
            start, rate = lat["start_ns"], lat["rate"]
            # records due in the first ramp_share of a segment are ramp-up
            steady = lat["from"] + sc["ramp_share"] * (lat["until"] - lat["from"])
            per_segment.append([(b["commit_ns"] - (start + (k - lat["from"]) / rate * 1e9)) / 1e6
                                for b in res["output"][pipe] for k in b["keys"]
                                if steady <= k < lat["until"]])
        # each segment's percentile, then their median: a slow stretch of
        # the host during one segment does not move the run's figure
        m[f"{pipe}_latency_p50_ms"] = stats.median([stats.median(x) for x in per_segment])
        m[f"{pipe}_latency_p90_ms"] = stats.median([stats.percentile(x, 90)
                                                    for x in per_segment])
        m[f"{pipe}_latency_n"] = sum(len(x) for x in per_segment)
        m[f"{pipe}_latency_batches"] = sum(len(lat["progress"]) for lat in lats)
        backlog = max(lat["backlog_max"] for lat in lats)
        m[f"{pipe}_backlog_max"] = backlog
        m[f"{pipe}_gen_lag_p99_ms"] = stats.percentile([x for lat in lats
                                                        for x in lat["gen_lag_ms"]], 99)
        if pipe == "t2":
            emitted_ids = len(ids & got_set)
            m["dups_suppressed"] = len(ids) - emitted_ids
            m["dups_expected"] = len(ids) - len(ids & expected["t2"])
            m["late_dropped"] = sum(p.get("state", {}).get("dropped_by_watermark", 0)
                                    for ph in phases for p in ph["progress"])
            if m["late_dropped"] != 0:
                checks.append(f"t2: {m['late_dropped']} records dropped as late")
            if m["dups_suppressed"] <= 0:
                checks.append("t2: no duplicates suppressed")
        if backlog > 4 * sc["offered_rate_rps"]:
            checks.append(f"{pipe}: open-loop backlog grew to {backlog} records; "
                          "the offered rate is above capacity, latency is invalid")
    m["disorder_ms"] = streamgen.max_disorder_ms(recs)
    e2e = {"warm_pass_s": m["t1_capacity_s"] + m["t2_capacity_s"],
           "latency_p50_ms": m["t2_latency_p50_ms"],
           "latency_p90_ms": m["t2_latency_p90_ms"]}
    return e2e, m, fed["t1"] + fed["t2"], failed


def analyze_batch(res, queries, groups, digests, checks):
    by_q = {}
    for s in res["samples"]:
        if s["pass"] > 0:
            by_q.setdefault(s["query"], []).append(s["ms"])
    failed = len(res["failures"])
    for f in res["failures"]:
        checks.append(f"{f['query']} (pass {f['pass']}) failed: {f['error']}")
    for q in queries:
        got, want = res["digests"].get(q), digests.get(q)
        if got is None:
            continue  # its cold-pass execution failed, counted above
        if want is None:
            checks.append(f"{q}: no expected digest recorded (got {json.dumps(got)})")
            failed += 1
        elif got != want:
            checks.append(f"{q}: output digest {got} != expected {want}")
            failed += 1
    warm = [ms for q in queries for ms in by_q.get(q, [])]
    med = {q: stats.median(by_q[q]) / 1e3 for q in queries if q in by_q}
    per_query_ms = [v * 1e3 for v in med.values()]
    m = {"warm_samples": len(warm), "warm_passes": res["warm_passes"]}
    s = stats.summarize(warm)
    m["query_p50_ms"] = s["median"]
    if s["tail_p"] is not None and s["tail_p"] > 50:
        m[f"query_p{s['tail_p']:g}_ms"] = s["tail"]
    for g, qs in (groups or {}).items():
        m[f"{g}_job_s"] = sum(med.get(q, 0.0) for q in qs)
    m["queries"] = {q: {"cold_ms": next((x["ms"] for x in res["samples"]
                                          if x["query"] == q and x["pass"] == 0), None),
                        "warm_median_ms": med.get(q, 0.0) * 1e3} for q in queries}
    e2e = {"warm_pass_s": sum(med.values()),
           "latency_p50_ms": stats.median(per_query_ms),
           "latency_p90_ms": stats.percentile(per_query_ms, 90)}
    return e2e, m, res["attempted"], failed


# ----------------------------------------------------------------- per layer

def p50(xs):
    return stats.median(xs) if xs else 0.0


def per_layer(res, workload, cfg_cores, one_core_rps, overhead):
    tr = res["trace"]
    probes = tr["probes"]
    m = {"serde.decode_ns_per_record": probes["serde"]["decode_ns_per_record"],
         "serde.encode_ns_per_record": probes["serde"]["encode_ns_per_record"],
         "io.scan_rows_per_s": probes["io"]["scan_rows_per_s"]}
    for k in ("md5_h64", "winnow_fp", "simhash32", "jaccard_sorted", "char_entropy_q",
              "cosine_sim", "l2_sq", "mat_project", "jl_project"):
        m[f"functions.{k}_ns_per_row"] = probes["functions"][f"{k}_ns_per_row"]
    ops = {o["op"]: o for o in tr["ops"]}
    # streaming layer: T2's open-loop segments, T2's state over the whole stream
    streaming = dict.fromkeys(
        ["batches", "rows_per_batch_p50", "batch_ms_p50", "add_batch_ms_p50", "overhead_ms_p50",
         "backlog_max_records", "gen_lag_ms_p99", "state_rows_final", "state_memory_bytes",
         "state_update_ms_p50", "state_commit_ms_p50", "state_rows_removed",
         "state_rocksdb_sst_bytes", "dups_suppressed", "late_dropped",
         "t2_capacity_rps_1core"], 0)
    if workload == "stream_logs":
        t2 = [p for p in res["phases"] if p["pipeline"] == "t2"]
        prog = [pr for p in t2 if p["phase"] == "latency" for pr in p["progress"]]
        dur = [p["duration_ms"] for p in prog]
        every = [p for ph in t2 for p in ph["progress"] if "state" in p]
        streaming.update({
            "batches": len(prog),
            "rows_per_batch_p50": p50([p["rows"] for p in prog]),
            "batch_ms_p50": p50([d.get("triggerExecution", 0) for d in dur]),
            "add_batch_ms_p50": p50([d.get("addBatch", 0) for d in dur]),
            "overhead_ms_p50": p50([d.get("triggerExecution", 0) - d.get("addBatch", 0)
                                    for d in dur]),
            "backlog_max_records": max(p["backlog_max"] for p in res["phases"]
                                       if p["phase"] == "latency"),
            "gen_lag_ms_p99": stats.percentile([x for p in res["phases"] if p["phase"] == "latency"
                                                for x in p["gen_lag_ms"]], 99),
            "state_rows_final": every[-1]["state"]["rows_total"],
            "state_memory_bytes": every[-1]["state"]["memory_bytes"],
            "state_update_ms_p50": p50([p["state"]["update_ms"] for p in every]),
            "state_commit_ms_p50": p50([p["state"]["commit_ms"] for p in every]),
            "state_rows_removed": sum(p["state"]["rows_removed"] for p in every),
            "state_rocksdb_sst_bytes": every[-1]["state"]["custom"].get("rocksdbSstFileSize", 0),
            "dups_suppressed": res["_metrics"]["dups_suppressed"],
            "late_dropped": res["_metrics"]["late_dropped"],
            "t2_capacity_rps_1core": one_core_rps})
        sel = [o for o in tr["ops"] if o["name"] == "t2 capacity"]
        wall = sum(o["wall_ms"] for o in sel)
        build_ms, eager, passes = res["build_ms"], 0, 1
    else:
        warm = [s for s in res["samples"] if s["pass"] > 0]
        sel = [ops[s["op"]] for s in warm]
        wall = sum(o["wall_ms"] for o in sel)
        passes = max(1, res["warm_passes"])
        build_ms = sum(s["build_ms"] for s in warm) / passes
        build_spans = {s["build_span"] for s in warm}
        eager = sum(1 for sp in tr["spans"]
                    if sp["layer"] == "exec" and sp["name"].startswith("job ")
                    and sp["parent"] in build_spans) / passes
    m.update({f"streaming.{k}": v for k, v in streaming.items()})
    m["operators.build_ms"] = build_ms
    m["operators.eager_jobs"] = eager

    def tot(k):
        return sum(o[k] for o in sel) / passes
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"catalyst.{k}"] = tot(k)
    for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
              "join_output_rows", "agg_input_rows"):
        m[f"exec.{k}"] = tot(k)
    m["exec.peak_exec_mem_bytes"] = max([o["peak_exec_mem_bytes"] for o in sel] or [0])
    m["exec.overhead_share"] = 1.0 - sum(o["task_run_ms"] for o in sel) / (wall * cfg_cores) \
        if wall else 0.0
    m["trace.overhead_share"] = overhead
    return m


def label(overhead_share):
    return "overhead-bound" if overhead_share >= 0.5 else "compute-bound"


def query_labels(res):
    """Per query (batch) or pipeline phase (stream): the median
    `exec.overhead_share` of its warm executions, and its label."""
    ops = {o["op"]: o for o in res["trace"]["ops"]}
    shares = {}
    if "samples" in res:
        for s in res["samples"]:
            if s["pass"] > 0:
                shares.setdefault(s["query"], []).append(ops[s["op"]]["overhead_share"])
    else:
        for o in res["trace"]["ops"]:
            if not o["name"].startswith("probe"):
                shares.setdefault(o["name"], []).append(o["overhead_share"])
    return {k: (stats.median(v), label(stats.median(v))) for k, v in shares.items()}


def self_time_by_layer(spans):
    """Each span's duration minus the part its children cover, summed by
    layer (ms)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []) if c["id"] != s["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, s["end_ms"] - s["start_ms"] - covered)
    return out


# --------------------------------------------------------------------- main

E2E_UNITS = {"setup_s": "s", "warm_pass_s": "s",
             "latency_p50_ms": "ms", "latency_p90_ms": "ms", "peak_rss_mb": "MB"}


def layer_unit(name):
    """Unit of a per-layer metric, from its name."""
    leaf = name.split(".", 1)[1]
    if leaf.endswith("_ns_per_record") or leaf.endswith("_ns_per_row"):
        return "ns"
    if "_rps" in leaf or leaf.endswith("_per_s"):
        return "1/s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("_share"):
        return "ratio"
    if "_ms" in leaf:
        return "ms"
    return "count"


def run_once(out, classes, cfg, a, trace):
    """One measured run; returns (e2e metrics, workload metrics, attempted,
    failed, checks, main result)."""
    work = os.path.join(out, "run", f"{a.workload}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    checks = []
    args = ["--workload", a.workload, "--cores", str(cores()), "--seed", str(a.seed),
            "--seconds", str(a.seconds)]
    if a.workload == "stream_logs" or trace:
        recs, stream_path = stream_inputs(cfg, a.seed, a.seconds, os.path.join(out, "run"))
    if a.workload == "stream_logs":
        args += stream_args(cfg, stream_path, a.seconds)
        sf = cfg["batch_interactive"]["sf"]  # tables for the traced-run probes
    else:
        wc = cfg[a.workload]
        queries = wc.get("queries") or [q for g in wc["groups"].values() for q in g]
        args += ["--queries", ",".join(queries), "--warmup-passes", str(wc["warmup_passes"]),
                 "--warm-passes", str(wc["warm_passes"])]
        sf = wc["sf"]
    if a.workload != "stream_logs" or trace:
        args += ["--data", table_dir(out, sf)]
    if trace:
        args += ["--trace", "--serde-input", stream_path]
    res = launch(out, classes, args, work, "main")
    if a.workload == "stream_logs":
        e2e, m, attempted, failed = analyze_stream(res, recs, cfg, checks)
    else:
        wc = cfg[a.workload]
        e2e, m, attempted, failed = analyze_batch(res, queries, wc.get("groups"),
                                                  load_json("digests.json")[a.workload], checks)
    m["cold_pass_s"] = res["cold_pass_s"]
    m["cold_cpu_s"] = res["cold_cpu_s"]
    e2e["setup_s"] = res["setup_s"]
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    res["_metrics"] = m
    res["_work"] = work
    return e2e, m, attempted, failed, checks, res


def main():
    # a terminated run still stops and reaps its JVM (see `launch`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("[perfbench] no engine sources under ./src/main/scala/graft: "
            "run from the root of a graft checkout")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None or "SPARK_HOME" not in os.environ:
        log("[perfbench] sbt, java and a Spark install named by $SPARK_HOME are required")
        return 2
    cfg = load_json("config.json")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(os.path.join(out, "run"), exist_ok=True)
    classes = build(root, out)

    results = os.path.join(out, "results", f"{a.workload}-s{a.seconds:g}-"
                           f"{open(os.path.join(out, 'classes.stamp')).read()[:16]}")
    cache = os.path.join(results, f"seed{a.seed}.json")
    try:
        if a.trace and os.path.isdir(results) and os.listdir(results):
            # untraced runs of this code already made here are the base for
            # the tracing overhead: this seed's run, else their medians
            runs = []
            for name in sorted(os.listdir(results)):
                with open(os.path.join(results, name)) as f:
                    runs.append(json.load(f))
            same = [r for r in runs if r[5] == a.seed]
            e2e, m, attempted, failed, checks, _ = same[0] if same else runs[0]
            if not same:
                e2e = {k: stats.median([r[0][k] for r in runs]) for k in e2e}
                m = {"untraced_runs": len(runs)}
                attempted, failed, checks = 0, 0, []
        else:
            e2e, m, attempted, failed, checks, res = run_once(out, classes, cfg, a, False)
            shutil.rmtree(res["_work"], ignore_errors=True)
            os.makedirs(results, exist_ok=True)
            with open(cache, "w") as f:
                json.dump([e2e, m, attempted, failed, checks, a.seed], f)
        layer = None
        if a.trace:
            te2e, tm, tatt, tfail, tchecks, tres = run_once(out, classes, cfg, a, True)
            one_core = 0.0
            if a.workload == "stream_logs":
                _, path = stream_inputs(cfg, a.seed, a.seconds, os.path.join(out, "run"))
                args = ["--workload", "stream_logs", "--cores", "1", "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--only-capacity-t2"]
                r1 = launch(out, classes, args + stream_args(cfg, path, a.seconds),
                            os.path.join(tres["_work"], "1core"), "t2-1core")
                one_core = (cfg["stream_logs"]["chunk_records"] /
                            (stats.median(chunk_ms(r1, "t2")) / 1e3))
            overhead = {k: te2e[k] - e2e[k] for k in e2e}
            layer = per_layer(tres, a.workload, cores(), one_core,
                              overhead["warm_pass_s"] / e2e["warm_pass_s"])
            attempted += tatt
            failed += tfail
            checks += [f"traced: {c}" for c in tchecks]
            e2e, m = te2e, tm
            report = {"workload": a.workload, "seed": a.seed,
                      "self_time_ms_by_layer": self_time_by_layer(tres["trace"]["spans"]),
                      "tracing_overhead": overhead, "traced": te2e,
                      "per_layer": layer,
                      "operations": [dict(o, label=label(o["overhead_share"]))
                                     for o in tres["trace"]["ops"]],
                      "labels": query_labels(tres),
                      "spans": tres["trace"]["spans"]}
            tdir = os.path.join(out, "trace")
            os.makedirs(tdir, exist_ok=True)
            tpath = os.path.join(tdir, f"{a.workload}-seed{a.seed}.json")
            with open(tpath, "w") as f:
                json.dump(report, f)
            shutil.rmtree(tres["_work"], ignore_errors=True)
    except CheckFailed as e:
        log(f"[perfbench] run failed: {e}")
        return 1

    print(f"workload {a.workload}  seed {a.seed}  cores {cores()}")
    for k, unit in E2E_UNITS.items():
        print(f"  {k:<24} {e2e[k]:>14.4f} {unit}")
    print(f"  {'error_rate':<24} {failed / attempted:>14.6f} ratio "
          f"({failed} of {attempted} operations)")
    for k, v in m.items():
        if not isinstance(v, (dict, list)):
            print(f"  {k:<24} {v:>14.4f}" if isinstance(v, float) else f"  {k:<24} {v:>14}")
    for q, v in m.get("queries", {}).items():
        print(f"  query {q:<28} cold {v['cold_ms'] or 0:>10.1f} ms   warm median "
              f"{v['warm_median_ms']:>10.1f} ms")
    for c in checks:
        print(f"  FAILED CHECK: {c}")
    if layer is not None:
        print(f"  span file and per-layer report: {tpath}")
        for k, v in overhead.items():
            print(f"  tracing overhead {k:<20} {v:+.4f} {E2E_UNITS[k]}")
        for k, v in report["self_time_ms_by_layer"].items():
            print(f"  self time {k:<18} {v:>12.1f} ms")
        for k, v in layer.items():
            print(f"  {k:<40} {v}")
        for name, (share, kind) in report["labels"].items():
            print(f"  overhead_share {name:<28} {share:.3f}  {kind}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not checks and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
