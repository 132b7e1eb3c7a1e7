#!/usr/bin/env python3
"""One run of the graft end-to-end benchmark.

    python3 e2ebench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft's main sources
and the runner in e2ebench/src with sbt (offline) into e2ebench/target;
later runs reuse the build while no source file changed. Each run
generates its inputs from the seed into e2ebench/.work, starts graft in
a fresh JVM with an empty warehouse, measures, checks every result against
the DuckDB oracles, and prints one JSON object as its last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. See e2ebench/README.md.
"""
import argparse
import fcntl
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
sys.dont_write_bytecode = True

import check    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
JAR = os.path.join(TARGET, "graftbench.jar")
# class-data-sharing archive of the classes a run loads: cuts JVM and Spark
# start-up by several seconds per run; made once per build
ARCHIVE = os.path.join(TARGET, "graftbench.jsa")
STAMP = os.path.join(TARGET, "graftbench.stamp")
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
RUN_LIMIT_S = 170                       # the whole run must end within 180 s
WORKLOADS = ("rag_serve", "memory_lifecycle", "curation_batch")
# JDK 17 module opens Spark needs outside spark-submit (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# graft's runtime settings from build.sbt's javaOptions
SPARK_PROPS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dspark.sql.files.maxPartitionBytes=33554432",
               "-Dspark.sql.files.openCostInBytes=65536"]


def die(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [GRAFT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        die(f"graft sources not found under {os.path.relpath(GRAFT_SRC)}; "
            "run from the root of a graft checkout")
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.exists(JAR):
        return
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    log = os.path.join(TARGET, "build.log")
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    with open(log, "w") as fh:
        rc = run_child(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=fh, timeout=600)
        if rc == 0:
            rc = run_child(["jar", "cf", JAR, "-C", CLASSES, "."], stdout=fh, timeout=120)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed", 3)
    # A short memory_lifecycle run loads the Spark, Hadoop and graft classes
    # every workload needs; the JVM writes them to the archive at exit.
    train = os.path.join(TARGET, "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    gen.generate("memory_lifecycle", 0, os.path.join(train, "input"))
    for _ in range(2):
        with open(os.path.join(TARGET, "cds-train.log"), "w") as fh:
            rc = run_child(runner_cmd(["-XX:ArchiveClassesAtExit=" + ARCHIVE], train,
                                      "memory_lifecycle", 1, 0, 0),
                           cwd=ROOT, stdout=fh, timeout=240)
        if rc == 0:
            break
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        print("e2ebench: class-data-sharing training run failed; see "
              "e2ebench/target/cds-train.log", file=sys.stderr)
    shutil.rmtree(train, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def spark_home():
    """The Spark installation: $SPARK_HOME, else the one whose spark-submit
    is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found: set SPARK_HOME")
    return home


def runner_cmd(jvm_opts, work, workload, seconds, trace, seed):
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
            + jvm_opts + ADD_OPENS + SPARK_PROPS
            + ["-cp", f"{JAR}:{os.path.join(spark_home(), 'jars')}/*", "graftbench.Runner", workload,
               os.path.join(work, "input"), work, str(seconds), str(trace), str(seed),
               os.path.join(work, "raw.json")])


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group. On timeout, or when this
    process is told to stop, kill the group and wait for it."""
    p = subprocess.Popen(cmd, stderr=subprocess.STDOUT, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def input_bytes(raw, manifest):
    """Bytes of the generated input the run consumed."""
    files = manifest["files"]
    wl = raw["workload"]
    if wl == "rag_serve":
        return sum(v["bytes"] for f, v in files.items() if f.startswith("corpus/"))
    if wl == "memory_lifecycle":
        landed = max([e["index"] for e in raw["events"] if e.get("kind") == "append"] or [0])
        batches = sorted(f for f in files if f.startswith("wal_batches/"))[:landed]
        return (sum(v["bytes"] for f, v in files.items() if f.startswith("corpus/"))
                + sum(files[f]["bytes"] for f in batches))
    shards = {o["target"].split("/")[0] for o in raw["ops"]}
    return sum(files[f"shards/{s}/documents.parquet"]["bytes"] for s in shards)


def phase_ops(raw, phase):
    return [o for o in raw["ops"] if o["phase"] == phase]


def phase_seconds(raw, phase):
    p = next(p for p in raw["phases"] if p["phase"] == phase)
    return (p["end"] - p["start"]) / 1000.0


def appends_of(raw, phase):
    return [(e["index"], e["landed"]) for e in raw["events"]
            if e.get("kind") == "append" and e["phase"] == phase]


def docs_per_s(raw, manifest, phase):
    if raw["workload"] != "curation_batch":
        return 0.0
    ops = phase_ops(raw, phase)
    shards = {o["target"].split("/")[0] for o in ops}
    docs = sum(manifest["files"][f"shards/{s}/documents.parquet"]["rows"] for s in shards)
    return docs / phase_seconds(raw, phase)


def end_to_end(raw, manifest):
    ops = phase_ops(raw, 1)
    lat = [o["end"] - o["start"] for o in ops]
    tail, q = metrics.tail(lat)
    e2e = {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_ms": (metrics.percentile(lat, 0.5), "ms"),
        "op_p95_ms": (tail, "ms"),
        "ops_per_s": (len(ops) / phase_seconds(raw, 1), "1/s"),
        "storage_amp": (raw["warehouse_bytes"] / input_bytes(raw, manifest), "ratio"),
        "peak_heap_mb": (raw["peak_heap_mb"], "MB"),
    }
    detail = {"ops": len(ops), "op_p95_quantile": q,
              "visible_ms": metrics.visible_ms(appends_of(raw, 1), ops),
              "docs_per_s": docs_per_s(raw, manifest, 1),
              "setup_marks": raw["setup_marks"]}
    return e2e, detail


def unit_of(name):
    if name.endswith("_ms") or name.endswith("_ms_per_op"):
        return "ms"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sources.bytes_written":
        return "bytes"
    if name.endswith("_frac") or name.endswith("_ratio") or "per_result" in name:
        return "ratio"
    return "count"


TRACED_PHASE = 2      # of the traced run's three phases: untraced, traced, untraced


def throughput(raw, phase):
    return len(phase_ops(raw, phase)) / phase_seconds(raw, phase)


def per_layer(raw, manifest):
    p = TRACED_PHASE
    m = metrics.span_layer_metrics(raw, p)
    m["ann.index_build_s"] = raw["setup_marks"].get("build.a21_routed_topk_io", 0.0)
    m["memory.visible_ms"] = metrics.visible_ms(appends_of(raw, p), phase_ops(raw, p))
    m["curation.docs_per_s"] = docs_per_s(raw, manifest, p)
    untraced = (throughput(raw, p - 1) + throughput(raw, p + 1)) / 2
    m["trace.overhead_frac"] = untraced / throughput(raw, p) - 1.0
    return {k: (v, unit_of(k)) for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # one run at a time per checkout: runs share the build and the work dir
    os.makedirs(TARGET, exist_ok=True)
    lock = open(os.path.join(TARGET, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    build()
    started = time.time()

    shutil.rmtree(WORK, ignore_errors=True)
    input_dir = os.path.join(WORK, "input")
    os.makedirs(os.path.join(WORK, "tmp"))
    manifest = gen.generate(a.workload, a.seed, input_dir)
    t_gen = time.time()
    raw_path = os.path.join(WORK, "raw.json")
    log = os.path.join(WORK, "runner.log")
    cds = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    cmd = runner_cmd(cds, WORK, a.workload, a.seconds, a.trace, a.seed)
    with open(log, "w") as fh:
        rc = run_child(cmd, cwd=ROOT, stdout=fh,
                       timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"runner failed (exit {rc})", 4)
    raw = json.load(open(raw_path))
    oracle_sql = json.load(open(os.path.join(WORK, "oracle_sql.json")))
    t_run = time.time()
    failed, notes = check.check(raw, WORK, input_dir, manifest, oracle_sql)
    wall = {"gen_s": t_gen - started, "run_s": t_run - t_gen,
            "check_s": time.time() - t_run}
    attempted = len(raw["ops"]) + sum(1 for e in raw["events"] if e.get("kind") == "append")
    for n in notes[:20]:
        print(f"CHECK FAIL {n}")
    if a.trace:
        values = per_layer(raw, manifest)
        values["fail_frac"] = (failed / attempted, "ratio")
    else:
        values, detail = end_to_end(raw, manifest)
        detail["fail_frac"] = failed / attempted
        detail["wall"] = wall
        print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
