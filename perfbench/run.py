#!/usr/bin/env python3
"""graft pipeline benchmark: one workload, one `local[4]` JVM, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--record FILE]

Builds the repo's main sources plus the harness in perfbench/src once with
sbt (offline), generates the seeded input tables, then starts the workload
as a plain `java` process (graftbench.Runner) that calls a fixed, ordered
list of `SparkEntry.queries` keys in a closed loop, in whole passes, for
`--seconds`. Every call's parquet output is then checked apart from Spark
(check.py). The last line of stdout is one JSON object: end-to-end metrics
with `--trace 0`, per-layer metrics with `--trace 1`. `--record FILE` keeps
the Runner's raw record, the input of diff.py. See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
SF = 0.03
WARMUP = "q1_pricing_summary"
HEAP = "4g"
JVM_TIMEOUT_S = 150

WORKLOADS = {
    "etl_tables": [
        "q1_pricing_summary", "scd2_apply", "merge_upsert", "medallion_silver",
        "salted_cumsum", "target_encode", "onehot_encode", "scale_standard",
        "dim_date", "hierarchy_flatten", "colnames_camel", "class_weights",
        "table_merge_pruned", "table_compact", "table_vacuum"],
    "text_curation": [
        "curation_pipeline", "dedup_minhash_lsh", "dedup_simhash", "dedup_exact",
        "text_quality", "gopher_repetition"],
    "recsys_train": [
        "pointwise_fit", "covisit_topk", "ann_ivf", "ann_pq", "ann_bruteforce",
        "kmeans_step2"],
}

# The package of the function each key calls (README "key → layer").
LAYER = {
    "q1_pricing_summary": "queries",
    "curation_pipeline": "operators", "covisit_topk": "operators",
    "dedup_minhash_lsh": "dedup", "dedup_simhash": "dedup", "dedup_exact": "dedup",
    "text_quality": "functions", "gopher_repetition": "functions",
    "pointwise_fit": "ml",
    "ann_ivf": "ann", "ann_pq": "ann", "ann_bruteforce": "ann", "kmeans_step2": "ann",
    "table_merge_pruned": "sources", "table_compact": "sources", "table_vacuum": "sources",
}
for _k in WORKLOADS["etl_tables"]:
    LAYER.setdefault(_k, "operators")
CALL_LAYERS = ["queries", "operators", "dedup", "functions", "ann", "ml", "sources"]

END_TO_END = {
    "wall_s": "s", "setup_s": "s", "call_p50_s": "s", "cpu_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_bytes": "bytes", "read_bytes": "bytes",
    "written_bytes": "bytes", "peak_pin_bytes": "bytes",
}
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in CALL_LAYERS for m, u in [
        ("build_s", "s"), ("run_s", "s"), ("build_jobs", "count"),
        ("run_jobs", "count"), ("cpu_s", "s"), ("shuffle_bytes", "bytes")]},
    "Tables.schema_jobs": "count", "Tables.schema_s": "s", "Tables.read_records": "count",
    "Checkpoints.pins": "count", "Checkpoints.pin_jobs": "count", "Checkpoints.pin_s": "s",
    "Checkpoints.stored_bytes": "bytes", "Checkpoints.disk_bytes": "bytes",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.stages": "count", "spark.one_task_stages": "count", "spark.run_s": "s",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "driver.outside_job_s": "s",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the repo's own build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: the build and the runs use its jars", 2)
    return m.group(1)


def spark_jars():
    jars = spark_jars_dir()
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(spark_jars()).encode())
    return h.hexdigest()


def build():
    """Compile once with sbt, jar the classes, and dump an application
    class-data archive from a JVM that starts a session and runs the
    warm-up call, so each run's JVM maps those classes instead of loading
    them from 288 jars. Later runs reuse all three while no source changed.
    Returns the java flags."""
    jar = os.path.join(BUILD, "graft-perfbench.jar")
    jsa = os.path.join(BUILD, "classes.jsa")
    stamp = os.path.join(BUILD, "stamp")
    want = source_hash()
    flags = ["-cp", os.pathsep.join([jar, *spark_jars()]), f"-XX:SharedArchiveFile={jsa}"]
    if os.path.exists(stamp) and open(stamp).read() == want:
        return flags
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    sbt_tmp = os.path.join(BUILD, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               GRAFT_SPARK_JARS=spark_jars_dir())
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=600).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"sbt compile failed ({rc})", 3)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    run = os.path.join(RUNS, f"archive-{os.getpid()}")
    try:
        run_jvm(flags[:2] + [f"-XX:ArchiveClassesAtExit={jsa}"], inputs(0),
                [WARMUP], 0, True, run)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(want)
    return flags


def inputs(seed):
    """The seeded input tables, generated once per (seed, scale, generator)."""
    with open(gen.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(ROOT, ".bench_data", f"sf{SF}-seed{seed}-{tag}")
    if not os.path.isdir(data):
        tmp = f"{data}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, SF, tmp)
        os.replace(tmp, data)
    return data


def run_jvm(flags, data, calls, seconds, trace, run):
    dirs = {d: os.path.join(run, d) for d in ("tmp", "local", "sink", "models", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    record = os.path.join(run, "record.json")
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dgraft.model.store={dirs['models']}", *flags, "graftbench.Runner",
           "--data", data, "--sink", dirs["sink"], "--record", record,
           "--models", dirs["models"], "--local", dirs["local"],
           "--calls", ",".join(calls), "--warmup", WARMUP,
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    log_path = os.path.join(run, "jvm.log")
    t_launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=dirs["cwd"], stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"workload JVM failed ({rc})")
    with open(record) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["ready_ms"] / 1000.0 - t_launch
    return rec, dirs["sink"]


def slot(rec, call, phase):
    return rec["slots"].get(f"{call['pass']}/{call['index']}/{phase}", {})


def both(rec, call, field):
    return slot(rec, call, "build").get(field, 0) + slot(rec, call, "run").get(field, 0)


def passes(rec):
    out = {}
    for c in rec["calls"]:
        out.setdefault(c["pass"], []).append(c)
    return [out[p] for p in sorted(out)]


def end_to_end(rec):
    per_pass = []
    for calls in passes(rec):
        walls = [c["build_s"] + c["run_s"] for c in calls]
        per_pass.append({
            "wall_s": sum(walls),
            "call_p50_s": statistics.median(walls),
            "cpu_s": sum(both(rec, c, "cpu_ns") for c in calls) / 1e9,
            "jobs": sum(both(rec, c, "jobs") for c in calls),
            "tasks": sum(both(rec, c, "tasks") for c in calls),
            "shuffle_bytes": sum(both(rec, c, "shuffle_write_bytes") for c in calls),
            "read_bytes": sum(both(rec, c, "input_bytes") for c in calls),
            "written_bytes": sum(both(rec, c, "output_bytes") for c in calls),
            "peak_pin_bytes": max(c["stored_bytes"] for c in calls),
        })
    m = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    m["setup_s"] = rec["setup_s"]
    return m


def outside_jobs_s(rec, call):
    """Call wall time not covered by any of the call's jobs."""
    lo, hi = call["build_start_ms"], call["run_end_ms"]
    prefix = f"{call['pass']}/{call['index']}/"
    spans = sorted((max(j["start_ms"], lo), min(j["end_ms"], hi)) for j in rec["jobs"]
                   if j["slot"].startswith(prefix))
    covered, end = 0, lo
    for a, b in spans:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return max(0.0, call["build_s"] + call["run_s"] - covered / 1000.0)


def per_layer(rec):
    per_pass = []
    for calls in passes(rec):
        m = dict.fromkeys(PER_LAYER, 0)
        for c in calls:
            b, r, layer = slot(rec, c, "build"), slot(rec, c, "run"), LAYER[c["key"]]
            m[f"{layer}.build_s"] += c["build_s"]
            m[f"{layer}.run_s"] += c["run_s"]
            m[f"{layer}.build_jobs"] += b.get("jobs", 0)
            m[f"{layer}.run_jobs"] += r.get("jobs", 0)
            m[f"{layer}.cpu_s"] += both(rec, c, "cpu_ns") / 1e9
            m[f"{layer}.shuffle_bytes"] += both(rec, c, "shuffle_write_bytes")
            m["Tables.schema_jobs"] += b.get("schema_jobs", 0)
            m["Tables.schema_s"] += b.get("schema_ms", 0) / 1000.0
            m["Tables.read_records"] += both(rec, c, "input_records")
            m["Checkpoints.pins"] += c["pins"]
            m["Checkpoints.pin_jobs"] += b.get("pin_jobs", 0)
            m["Checkpoints.pin_s"] += b.get("pin_ms", 0) / 1000.0
            m["Checkpoints.stored_bytes"] += c["stored_bytes"]
            m["Checkpoints.disk_bytes"] += c["disk_bytes"]
            for p in ("analysis", "optimization", "planning"):
                m[f"catalyst.{p}_s"] += c["phases"].get(p, 0) / 1000.0
            m["spark.stages"] += both(rec, c, "stages")
            m["spark.one_task_stages"] += both(rec, c, "one_task_stages")
            m["spark.run_s"] += both(rec, c, "run_ms") / 1000.0
            m["spark.gc_s"] += both(rec, c, "gc_ms") / 1000.0
            m["spark.spill_bytes"] += both(rec, c, "spill_bytes")
            m["spark.shuffle_read_bytes"] += both(rec, c, "shuffle_read_bytes")
            m["spark.output_bytes"] += both(rec, c, "output_bytes")
            m["driver.outside_job_s"] += outside_jobs_s(rec, c)
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass) for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="keep the Runner's record here (diff.py input)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala", 2)

    flags = build()
    data = inputs(a.seed)
    run = os.path.join(RUNS, f"{a.workload}-s{a.seed}-{os.getpid()}")
    try:
        rec, sink = run_jvm(flags, data, WORKLOADS[a.workload], a.seconds, a.trace == 1, run)
        checker = check.Checker(data, os.path.join(ROOT, ".bench_cache"))
        failed = 0
        for c in rec["calls"]:
            out = os.path.join(sink, f"p{c['pass']}", c["key"])
            try:
                why = c["error"] if not c["ok"] else checker.check(
                    c["key"], rec["oracle"][c["key"]], out)
            except Exception as e:  # an unreadable or malformed output fails its call
                why = f"check raised {e!r}"
            if why:
                failed += 1
                print(f"perfbench: pass {c['pass']} {c['key']} failed: {why}", file=sys.stderr)
        if a.record:
            with open(a.record, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "layer": LAYER, **rec}, f)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    # counters are complete only if every job that started also ended
    correct = rec["jobs_started"] == rec["jobs_ended"] and "unattributed" not in rec["slots"]
    if not correct:
        print(f"perfbench: listener saw {rec['jobs_started']} job starts, "
              f"{rec['jobs_ended']} ends, slots {sorted(rec['slots'])[:5]}", file=sys.stderr)
    values, units = (per_layer(rec), PER_LAYER) if a.trace else (end_to_end(rec), END_TO_END)
    print(json.dumps({
        "correct": correct, "attempted": len(rec["calls"]), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
