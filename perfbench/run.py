#!/usr/bin/env python3
"""The repository benchmark: one command, every metric by name and
unit, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the harness (perfbench/harness, an sbt build that depends on the root
build) into the checkout and caches the classpath under .bench_build/;
later runs reuse it until a source file changes.

Workloads (BENCHMARK.json lists bulk_acquisition and query_mix;
perfbench/NOTES.md says why each exists and why landing_fleet is not
listed):
  bulk_acquisition  one large acquisition through Pipeline.processAcquisition
  landing_fleet     an open-loop fleet landing acquisitions into StreamingIngest.run
  query_mix         a family-grouped list of registry queries over the sf0.1 tables

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run. Lines before
it give the workload's own headline figures, the correctness verdicts
and a box-health line."""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from lib import fingerprint, mix, stats, trace  # noqa: E402

WORKLOADS = ("bulk_acquisition", "landing_fleet", "query_mix")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
BUILD = ".bench_build"
RUN_BUDGET_S = 170.0
BUILD_BUDGET_S = 600.0
# the JDK 17 module opens Spark needs outside spark-submit (the root
# build.sbt's javaOptions)
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Spark and JIT threads: half the box's cores, and the serial
# collector. The benchmark runs on a few cores of a shared host: with a
# thread per core every stolen or contended core stalls a stage, and
# parallel GC threads spin while one of them waits for a core, which
# shows as CPU time.
NPROC = os.cpu_count() or 1
THREADS = max(1, NPROC // 2)
FAMILIES = tuple(dict.fromkeys(f for f, _ in mix.QUERIES))
PHASES = (("sink.enriched_write", "enriched_write"),
          ("analytics.rms_aggregate", "rms_aggregate"),
          ("sink.rms_write", "rms_write"))
LAYERS = ("sessions", "fixtures", "decode", "ingest", "sources", "sink",
          "analytics", "streaming", "queries", "operators", "bench")


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------- build

def _source_stamp(root):
    """Digest of every file the build reads, so an edited checkout
    rebuilds and an unchanged one reuses its classpath."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness")]
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness; return the runtime classpath."""
    stamp = _source_stamp(root)
    cp_file = os.path.join(root, BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        # sbt's own state and temp files stay inside the checkout
        "-Dsbt.global.base=" + os.path.join(root, BUILD, "sbt-global"),
        "-Dsbt.ivy.home=" + os.path.join(root, BUILD, "ivy"),
        "-Djna.tmpdir=" + os.path.join(root, BUILD, "tmp"),
        "-Djava.io.tmpdir=" + os.path.join(root, BUILD, "tmp")])
    os.makedirs(os.path.join(root, BUILD, "tmp"), exist_ok=True)
    log = os.path.join(root, BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=fh,
            stderr=subprocess.STDOUT, timeout=BUILD_BUDGET_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "harness" in l and "classes" in l and ":" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (log: %s)" % log)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


# ----------------------------------------------------------------- run

def run_harness(root, cp, a, trace_on, deadline, extra=()):
    """One harness JVM; returns its raw result dict."""
    work = os.path.join(root, BUILD, "work", "%s-%d-%d-%d" % (
        a.workload, a.seed, int(trace_on), os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(root, BUILD, "work", os.path.basename(work) + ".json")
    cmd = (["java", "-Xmx3g", "-XX:+UseSerialGC",
            "-XX:ActiveProcessorCount=%d" % THREADS] +
           [x for o in JAVA_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dderby.system.home=" + tmp,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", "1" if trace_on else "0",
            "--work", os.path.join(work, "w"), "--result", result,
            "--data", SF_DIR, "--nproc", str(NPROC)])
    if a.workload == "query_mix":
        cmd += ["--mix", ",".join("%s:%s" % fq for fq in mix.QUERIES)]
    cmd += list(extra)
    log = os.path.join(root, BUILD, "last-run.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        with open(log, "w") as fh:
            p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT, env=env)
            try:
                rc = p.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("harness exceeded the run budget (log: %s)" % log)
        if rc != 0 or not os.path.exists(result):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail("harness failed with code %d (log: %s)" % (rc, log))
        with open(result) as fh:
            res = json.load(fh)
        if a.workload == "query_mix":
            res["fingerprints"] = fingerprint_results(res)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(result):
            os.remove(result)


def fingerprint_results(res):
    """Fingerprints of the untimed pass's Parquet results (before the
    run's work dir is deleted)."""
    import duckdb
    con = duckdb.connect()
    got = {}
    for q in sorted(res["families"]):
        if q not in res["result_errors"]:
            cur = con.execute("SELECT * FROM '%s/%s/*.parquet'" % (res["result_dir"], q))
            got[q] = fingerprint.fingerprint(cur.fetchall(), [d[0] for d in cur.description])
    return got


def check_results(res):
    """Every query result of the untimed pass against the oracle-
    validated expectations (perfbench/expected/query_mix.json)."""
    with open(os.path.join(HERE, "expected", "query_mix.json")) as fh:
        want = json.load(fh)["queries"]
    for q in sorted(res["families"]):
        res["attempted"] += 1
        if q in res["result_errors"]:
            res["failed"] += 1
            res["problems"].append("lost: %s failed: %s" % (q, res["result_errors"][q]))
            continue
        why = (fingerprint.compare(res["fingerprints"][q], want[q]) if q in want
               else "no expected result")
        if why:
            res["failed"] += 1
            res["problems"].append("wrong: %s %s" % (q, why))


# ------------------------------------------------------------- metrics

def op_samples(res, workload):
    return res["latencies_s"] if workload == "landing_fleet" else res["op_walls_s"]


def end_to_end(res, workload):
    ops = op_samples(res, workload)
    label, tail_v, n = stats.tail(ops)
    # JVM CPU-seconds per operation (query_mix: the sum of per-query
    # medians over the timed passes). The gated time metric: wall time on
    # the benchmark's shared host drifts with CPU steal and co-tenant
    # load by more than any bound (NOTES.md, "Steadiness"); CPU time
    # leaves out stolen time and time spent waiting for a core.
    cpu = (sum(stats.median(c) for c in res["query_cpus_s"].values())
           if workload == "query_mix" else stats.median(res["op_cpus_s"]))
    m = {
        "setup_s": (stats.median(res["setup_rounds_s"]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ok_frac": ((res["attempted"] - res["failed"]) / res["attempted"], "ratio"),
        "op_cpu_s": (cpu, "s"),
    }
    # the workload's own headline figures
    own = {"failed_frac": (res["failed"] / res["attempted"], "ratio"),
           "op_wall_p50_s": (stats.median(ops), "s"),
           "op_tail_s": (tail_v, "s (%s of n=%d)" % (label, n)),
           "op_samples_s": ([round(x, 3) for x in ops], "s"),
           "setup_rounds_s": (res["setup_rounds_s"], "s"),
           "warmup_s": (res.get("warmup_s", 0.0), "s")}
    if workload != "query_mix":
        own["op_cpu_samples_s"] = ([round(x, 3) for x in res["op_cpus_s"]], "s")
    if workload == "bulk_acquisition":
        own["ingest_mb_per_s"] = (res["raw_bytes"] / 1e6 / stats.median(ops), "MB/s")
    elif workload == "landing_fleet":
        own["landing_latency_p50_s"] = (stats.median(ops), "s")
        own["landing_latency_tail_s"] = (tail_v, "s (%s of n=%d)" % (label, n))
        own["landing_gen_late_max_s"] = (res["gen_late_max_s"], "s")
        own["landing_backlog_max"] = (res["backlog_max"], "acquisitions")
    else:
        sums = family_sums(res)
        own["query_mix_s"] = (sum(sums.values()), "s")
        own["query_medians_s"] = ({q: round(stats.median(w), 3)
                                   for q, w in res["query_walls_s"].items()}, "s")
        own["query_cpu_medians_s"] = ({q: round(stats.median(c), 3)
                                       for q, c in res["query_cpus_s"].items()}, "s")
        for f, v in sums.items():
            own["query_%s_s" % f] = (v, "s")
    return m, own


def family_sums(res):
    sums = {}
    for q, walls in res["query_walls_s"].items():
        f = res["families"][q]
        sums[f] = sums.get(f, 0.0) + stats.median(walls)
    return sums


def per_layer(res, workload, overhead):
    spans = res["spans"]
    layers, unattributed, wall = trace.self_times(spans)
    m = {"%s.self_s" % l: (layers.get(l, 0.0), "s") for l in LAYERS}
    m["unattributed_s"] = (unattributed, "s")
    m["traced_wall_s"] = (wall, "s")
    m["trace.spans"] = (len(spans), "count")
    m["trace.overhead_frac"] = (overhead, "ratio")
    c = res["counters"]
    zero = {"tasks": 0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "cpu_s": 0.0,
            "input_bytes": 0, "execution_s": 0.0, "jobs": 0}

    def bucket(b):
        return dict(zero, **c.get(b, {}))

    n_ops = {"bulk_acquisition": len(res.get("op_walls_s", [])),
             "landing_fleet": len(res.get("latencies_s", []))}.get(workload, 0) or 1
    ew, ra, rw = (bucket(b) for _, b in PHASES)
    m["sink.enriched_write_s"] = (ew["execution_s"] / n_ops, "s")
    m["sink.enriched_task_cpu_s"] = (ew["cpu_s"] / n_ops, "s")
    files = res.get("enriched_files") or [0]
    sizes = res.get("enriched_bytes") or [0]
    m["sink.enriched_bytes"] = (stats.median(sizes), "B")
    m["sink.enriched_files"] = (stats.median(files), "count")
    probe = res.get("probe", {})
    m["ingest.decode_s"] = (probe.get("decode_s", 0.0), "s")
    m["decode.hsd2_mb_per_s"] = (probe.get("hsd2_mb_per_s", 0.0), "MB/s")
    m["sources.hsd_scan_s"] = (probe.get("hsd_scan_s", 0.0), "s")
    m["analytics.rms_aggregate_s"] = (ra["execution_s"] / n_ops, "s")
    m["analytics.rms_input_bytes"] = (ra["input_bytes"] / n_ops, "B")
    m["sink.rms_write_s"] = (rw["execution_s"] / n_ops, "s")
    # processAcquisition wall minus its Spark actions: in bulk the
    # harness times each call; in landing the calls run inside the
    # micro-batches' addBatch
    actions = (ew["execution_s"] + ra["execution_s"] + rw["execution_s"]) / n_ops
    st = res.get("streaming", {})
    d = st.get("duration_s", {})
    driver = {"bulk_acquisition": sum(res.get("op_walls_s", [])) / n_ops - actions,
              "landing_fleet": d.get("addBatch", 0.0) / n_ops - actions}.get(workload, 0.0)
    m["ingest.pipeline_driver_s"] = (driver, "s")
    for name, b in PHASES:
        x = bucket(b)
        m[name + ".tasks"] = (x["tasks"], "count")
        m[name + ".gc_s"] = (x["gc_s"], "s")
        m[name + ".shuffle_bytes"] = (x["shuffle_bytes"], "B")
        m[name + ".spill_bytes"] = (x["spill_bytes"], "B")
    m["streaming.batches"] = (st.get("batches", 0), "count")
    m["streaming.latest_offset_s"] = (d.get("latestOffset", 0.0), "s")
    m["streaming.add_batch_s"] = (d.get("addBatch", 0.0), "s")
    m["streaming.planning_s"] = (d.get("queryPlanning", 0.0), "s")
    m["streaming.wal_commit_s"] = (d.get("walCommit", 0.0), "s")
    m["streaming.state_rows"] = (st.get("state_rows", 0), "count")
    m["streaming.state_bytes"] = (st.get("state_bytes", 0), "B")
    query_layer(m, res, workload)
    return m


def query_layer(m, res, workload):
    walls = res.get("query_walls_s", {})
    passes = len(res.get("op_walls_s", [])) if workload == "query_mix" else 0
    c = res["counters"]
    fam = {f: {"cpu_s": 0.0, "gc_s": 0.0, "jobs": 0, "tasks": 0, "spill_bytes": 0,
               "input_bytes": 0} for f in FAMILIES}
    sums = {f: 0.0 for f in FAMILIES}
    for f, q in mix.QUERIES:
        b = c.get("q:" + q, {})
        w = stats.median(walls[q]) if walls.get(q) else 0.0
        sums[f] += w
        m["queries.%s.wall_s" % q] = (w, "s")
        m["queries.%s.shuffle_bytes" % q] = (b.get("shuffle_bytes", 0) / (passes or 1), "B")
        for k in fam[f]:
            fam[f][k] += b.get(k, 0) / (passes or 1)
    for f in FAMILIES:
        m["queries.family_%s_s" % f] = (sums[f], "s")
        for k, unit in (("cpu_s", "s"), ("gc_s", "s"), ("jobs", "count"), ("tasks", "count"),
                        ("spill_bytes", "B"), ("input_bytes", "B")):
            m["operators.%s.%s" % (f, k)] = (fam[f][k], unit)
    m["queries.mix_s"] = (sum(sums.values()), "s")


# ---------------------------------------------------------------- main

def box_line(res):
    b = res["box"]
    return ("box: nproc=%d threads=%d loadavg=%s..%s steal=%.2f%% memcpy=%.1fGB/s peak_rss=%.0fMB wall=%.1fs" % (
        b["nproc"], b["threads"], "/".join("%.2f" % x for x in b["loadavg_start"]),
        "/".join("%.2f" % x for x in b["loadavg_end"]), 100 * b["steal_frac"],
        b["memcpy_gbps"], res["peak_rss_mb"], res["wall_s"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (no build.sbt / src/main/scala/graft here)")
    if a.workload == "query_mix" and not os.path.isfile(os.path.join(SF_DIR, "lineitem.parquet")):
        fail("query_mix needs the sf0.1 tables at %s (PERFBENCH_SF_DIR)" % SF_DIR)
    os.makedirs(os.path.join(root, BUILD, "results"), exist_ok=True)
    cp = build(root)
    deadline = time.time() + RUN_BUDGET_S
    res = run_harness(root, cp, a, bool(a.trace), deadline)
    if a.workload == "query_mix":
        check_results(res)

    ok = res["attempted"] - res["failed"]
    wrong = [p for p in res["problems"] if not p.startswith("lost:")]
    e2e, own = end_to_end(res, a.workload)
    if a.trace:
        # traced operations against the run's untraced control operations
        traced_ops = res.get("traced_walls_s") or op_samples(res, a.workload)
        overhead = stats.median(traced_ops) / stats.median(res["control_walls_s"]) - 1.0
        metrics = per_layer(res, a.workload, overhead)
    else:
        metrics = e2e

    print(box_line(res))
    for k, (v, u) in sorted(own.items()):
        print("%s: %s %s" % (k, v, u))
    print("checks: attempted=%d ok=%d failed=%d wrong_output=%d" % (
        res["attempted"], ok, res["failed"], len(wrong)))
    for p in res["problems"][:10]:
        print("  " + p)
    if a.trace:
        print("trace: self times + unattributed = %.3f s of %.3f s traced wall; overhead %+.1f%%" % (
            sum(v for k, (v, _) in metrics.items() if k.endswith(".self_s")) +
            metrics["unattributed_s"][0], metrics["traced_wall_s"][0], 100 * overhead))
    with open(os.path.join(root, BUILD, "results", "%s-%d-trace%d.json" % (
            a.workload, a.seed, a.trace)), "w") as fh:
        json.dump({"box": res["box"], "own": own, "metrics": metrics,
                   "problems": res["problems"], "counters": res["counters"]}, fh, indent=1)
    print(json.dumps({
        "correct": not wrong,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
