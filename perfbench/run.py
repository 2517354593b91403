#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds the engine from `src/main/scala` plus the harness in
`perfbench/harness` with the Scala compiler that ships in Spark's jars
(no build-file change, no sbt), generates the workload's inputs from the
seed, runs the workload in a fresh JVM, checks every output (against the
key's DuckDB oracle, or the keyspace copy's row counts; see check.py),
and prints one JSON object as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Exits non-zero on a wrong output or a failed run.

Everything it writes stays under `.bench_build/` and `.bench_work/` in the
checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import pool  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170
# Generator scales (1 = sf0.001 row counts): the queries read sf0.1-sized
# tables, the curation run an sf0.01-sized corpus, and the copy a small
# keyspace, so that a run fits the time budget (README, "Dropped").
QUERY_SCALE = 100.0
CORPUS_SCALE = 10.0
KEYSPACE_SCALE = 2.0
COPY_TABLES = 2
COPY_POOL = ["customer", "events", "orders", "part", "supplier"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Scala compiler jar in {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java")
    return exe


def build(jars):
    """Compile engine + harness into BUILD unless the sources are unchanged."""
    engine_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not engine_src:
        die("no engine sources under src/main/scala: run from the root of a graft checkout")
    if not harness_src:
        die("no harness sources under perfbench/harness")
    h = hashlib.sha256()
    for f in engine_src + harness_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    cp = os.path.join(jars, "*")
    for name, srcs, extra in (("engine", engine_src, []),
                              ("harness", harness_src, [os.path.join(BUILD, "engine")])):
        out = os.path.join(BUILD, name)
        os.makedirs(out)
        classpath = os.pathsep.join(extra + [cp])
        r = subprocess.run(
            [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", out] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die(f"{name} build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def make_inputs(workload, seed, data):
    """Generate the seeded inputs; returns the harness arguments they imply
    plus what the checker needs to know about them."""
    rng = random.Random(seed)
    if workload == "query_mix":
        gen.write(data, seed, QUERY_SCALE)
        keys, stream = pool.sample(rng)
        return {"keys": ",".join(keys), "stream": ",".join(stream)}, {}
    # pipelines_cold: a fresh corpus variant (so no memo, run dir or
    # codegen cache entry can exist for it) and a keyspace of seeded
    # tables and rows.
    gen.write(os.path.join(data, "corpus"), seed, CORPUS_SCALE, names=["documents", "embeddings"])
    tables = sorted(rng.sample(COPY_POOL, COPY_TABLES))
    counts = gen.write(os.path.join(data, "keyspace"), seed,
                       KEYSPACE_SCALE * rng.uniform(0.75, 1.25), names=tables)
    return {}, {"counts": counts}


def run_jvm(jars, workload, args, work, trace, seconds, t_setup):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = [java(), "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # The engine's own heap setting (build.sbt's javaOptions).
    cmd += ["-Xmx8g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([os.path.join(BUILD, "harness"),
                                    os.path.join(BUILD, "engine"),
                                    os.path.join(jars, "*")]),
            "graft.perfbench.Main",
            f"workload={workload}", f"data={os.path.join(work, 'data')}",
            f"work={work}", f"out={out}", f"seconds={seconds}",
            f"trace={trace}", f"cpus={cpus}"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    log = open(os.path.join(work, "jvm.log"), "w")
    env = dict(os.environ, TMPDIR=tmp)
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
    try:
        rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_setup)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness JVM failed (exit {rc})", 1)
    with open(out) as fh:
        return json.load(fh)


def key_geomean(ops):
    """Geometric mean over the operation keys of each key's median wall,
    so every key moves it by the same share, whatever its cost."""
    walls = {}
    for op in ops:
        walls.setdefault(op["key"], []).append(op["wall_s"])
    return statistics.geometric_mean([statistics.median(w) for w in walls.values()])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "pipelines_cold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    jars = spark_jars()
    build(jars)

    # Set-up is timed from here: building is excluded.
    t_setup = time.time()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args, facts = make_inputs(a.workload, a.seed, os.path.join(work, "data"))
    res = run_jvm(jars, a.workload, args, work, a.trace, a.seconds, t_setup)

    ops = res["ops"]
    if not ops:
        die("no timed operation ran", 1)
    failures = check.verify(a.workload, work, res, facts)
    failed = sum(1 for i, op in enumerate(ops) if op["error"] or i in failures)
    for i, op in enumerate(ops):
        if op["error"] or i in failures:
            print(f"perfbench: op {i} ({op['key']}): {op['error'] or failures[i]}", file=sys.stderr)
    for w in res["warm"]:
        print(f"perfbench: warm-up {w['key']}: {w['error']}", file=sys.stderr)

    if a.trace:
        got = res["per_layer"]
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "result.json.spans.json"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json"))
    else:
        values = {
            "setup_s": res["first_op_epoch_ms"] / 1000.0 - t_setup,
            "key_geomean_s": key_geomean(ops),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and not res["warm"]
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
