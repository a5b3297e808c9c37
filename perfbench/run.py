"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_merge --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the engine and the harness from
source on first use (into $CARGO_TARGET_DIR, default .bench_build), writes
the workload's inputs for the seed, runs the harness JVM for the workload
and checks its outputs. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1 (which also writes the
run's spans under .bench_out/). Exits non-zero when the outputs are wrong
or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the directory the repo's build.sbt takes its
    Spark jars from (unmanagedBase)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    out = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build():
    """Compiles engine and harness with the Scala compiler shipped in the
    Spark jars, once per source state. Returns the class directory."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a checkout root")
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    jars = spark_jars()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-d", classes, "-classpath", jars, "-nowarn", "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def run_jvm(classes, workload, inputs, work, seconds, trace, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, ENGINE_RES, spark_jars()]),
            "perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run limit; log in {log_path}")
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(out) as f:
        return json.load(f)


def end_to_end(rec, gen_s, spec):
    ops = rec["ops"]
    done = [o for o in ops if o["ok"]]
    if not done:
        fail("no op completed")
    lat = [o["end"] - o["start"] for o in done]
    wall_s = (rec["timed_end_ms"] - rec["timed_start_ms"]) / 1000.0
    tail_p = spec["tail_percentile"]
    if stats.beyond(len(lat), tail_p) < stats.TAIL_MIN_BEYOND:
        print(f"perfbench: only {len(lat)} completed ops; p{tail_p} has fewer "
              f"than {stats.TAIL_MIN_BEYOND} beyond it", file=sys.stderr)
    setup_s = gen_s + rec["session_s"] + rec["setup_fixture_s"] + rec["warm_up_s"]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(done) / wall_s, "1/s"),
        "op_p50_ms": (stats.median(lat), "ms"),
        "op_tail_ms": (stats.percentile(lat, tail_p), "ms"),
        "ok_frac": (1.0 - stats.error_frac(ops), "frac"),
        "write_bytes_per_row": (rec["write_bytes"] / max(1, rec["write_rows"]),
                                "B/row"),
        "driver_heap_mb": (rec["heap_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = SPEC["workloads"][a.workload]
    classes = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    gen.generate(a.workload, a.seed, inputs)
    gen_s = time.perf_counter() - t0
    rec = run_jvm(classes, a.workload, inputs, work, a.seconds, a.trace,
                  os.path.join(work, "record.json"), deadline)
    for p in rec["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    if not rec["ops"]:
        fail("no op was attempted")
    e2e = end_to_end(rec, gen_s, spec)
    if a.trace:
        metrics = layers.per_layer(rec)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace.json"),
                  "w") as f:
            json.dump(layers.trace_file(rec, e2e), f)
    else:
        metrics = e2e
    correct = not rec["problems"]
    print(json.dumps({
        "correct": correct,
        "attempted": len(rec["ops"]),
        "failed": sum(1 for o in rec["ops"] if not o["ok"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
