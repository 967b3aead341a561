#!/usr/bin/env python3
"""mnemospark benchmark: one command per workload run.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: curation_batch, interactive_suite (see perfbench/NOTES.md
for what each measures and why). The run

1. builds the repository's sources together with the harness under
   perfbench/ (sbt, cached in .bench_build/ until a source changes);
2. generates the inputs from --seed (three times: twice with the seed,
   which must give identical files, once with seed+1, which must not),
   then checks that they are not vacuous;
3. starts the harness JVM on local[<cores>], which sets up, measures
   passes for --seconds and writes the outputs it times;
4. compares every written query output against its DuckDB oracle;
5. prints, as its last line, one JSON object with `correct`,
   `attempted`, `failed` and `metrics`: the end-to-end metrics with
   --trace 0, the per-layer metrics with --trace 1.

The full record of each run (quartiles, sample counts, calibration
timings, failures, and in a traced run the spans) is written under
.bench_build/artifacts/.
"""
import argparse
import glob
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = {
    # relational scale factor, document and embedding rows
    "curation_batch": dict(sf=0.001, docs=500, embeddings=500),
    "interactive_suite": dict(sf=0.01, docs=500, embeddings=500),
}
# inputs of the traced run's agent-memory probe (two steps)
AGENT = dict(steps=2, batch=24, recalls=4, reposts=2, inject_share=0.05)
EXACT_SHARE, NEAR_SHARE = 0.01, 0.05
RUN_LIMIT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_hash():
    files = sorted(
        glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compiles the harness with the repository sources; returns the
    runtime classpath. Cached until a source file changes."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("the repository sources (src/main/scala/graft) are missing")
    stamp = os.path.join(BUILD, "build.json")
    digest = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("hash") == digest and os.path.isdir(
                cached["classpath"].split(os.pathsep)[0]):
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def generate(workdir, workload, seed, scale):
    """Generates the run's inputs and checks that generation is
    deterministic; returns (data dir, planted duplicates, median s)."""
    spec = dict(WORKLOADS[workload])
    spec["sf"] *= scale
    spec["docs"] = int(spec["docs"] * scale)
    spec["embeddings"] = int(spec["embeddings"] * scale)
    times, dirs, planted = [], [], None
    for i, s in enumerate((seed, seed, seed + 1)):
        d = os.path.join(workdir, f"data{i}")
        t0 = time.perf_counter()
        p = gen.generate(d, s, exact_share=EXACT_SHARE, near_share=NEAR_SHARE,
                         agent=AGENT, **spec)
        times.append(time.perf_counter() - t0)
        dirs.append(d)
        planted = planted or p

    def digest(d):
        return {os.path.basename(f): hashlib.sha256(open(f, "rb").read()).hexdigest()
                for f in sorted(glob.glob(os.path.join(d, "*.parquet")))}
    first, again, other = (digest(d) for d in dirs)
    fixed = ("region.parquet", "nation.parquet")  # constant tables
    checks = [("same seed gives identical tables", first == again),
              ("another seed gives different tables",
               all(first[k] != other[k] for k in first if k not in fixed))]
    for d in dirs[1:]:
        shutil.rmtree(d)
    return dirs[0], planted, statistics.median(times), checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies the input sizes (workload character check)")
    a = ap.parse_args()
    # a terminated run unwinds, so the harness JVM it started is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    classpath = build(env)
    started = time.monotonic()

    workdir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    data, planted, gen_s, gen_checks = generate(workdir, a.workload, a.seed, a.scale)

    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={workdir}/tmp"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--data", data, "--out", workdir])
    log_path = os.path.join(workdir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(RUN_LIMIT_S - (time.monotonic() - started), 10))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the run time limit (log: {log_path})")
        finally:  # never leave the JVM behind, whatever ends this run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(workdir, "result.json")
    if proc.returncode != 0 or not os.path.isfile(result_path):
        fail(f"harness failed with code {proc.returncode} (log: {log_path})")
    with open(result_path) as fh:
        res = json.load(fh)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    for what, ok in gen_checks:
        attempted += 1
        if not ok:
            failed += 1
            failures.append(f"generator: {what}")
    sql_path = os.path.join(workdir, "oracle", "oracle_sql.json")
    oracle_report = []
    if os.path.isfile(sql_path):
        oracle_report = oracle.compare(os.path.join(workdir, "oracle"), data, planted)
        for name, ok, msg in oracle_report:
            attempted += 1
            if not ok:
                failed += 1
                failures.append(f"{name}: {msg}")

    m = res["metrics"]
    setup = m["setup_s"]
    for k in ("value", "q1", "q3"):
        setup[k] += gen_s
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            per_layer = json.load(fh)["per_layer"]
        layer = res["per_layer"]
        metrics = {x["name"]: {"value": layer.get(x["name"]) or 0.0, "unit": x["unit"]}
                   for x in per_layer}
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in m.items()}

    record = dict(res, attempted=attempted, failed=failed, failures=failures,
                  gen_s=gen_s, oracle=[{"query": n, "ok": ok, "detail": d}
                                       for n, ok, d in oracle_report],
                  wall_s=time.monotonic() - started, scale=a.scale)
    art = os.path.join(BUILD, "artifacts")
    os.makedirs(art, exist_ok=True)
    stem = os.path.join(art, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    if a.scale != 1.0:
        stem += f"-scale{a.scale:g}"
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if os.path.isfile(os.path.join(workdir, "spans.jsonl")):
        shutil.copy(os.path.join(workdir, "spans.jsonl"), stem + ".spans.jsonl")
    shutil.rmtree(workdir, ignore_errors=True)

    for f in failures[:20]:
        print(f"FAILED {f}")
    for k, v in m.items():
        print(f"{k} = {v['value']:.4f} {v['unit']} (q1 {v['q1']:.4f}, q3 {v['q3']:.4f}, n {v['n']})")
    print(f"calibration ms: {res['calib_ms']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
