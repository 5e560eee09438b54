#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve_backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline) and trains the production
model; later runs reuse both until a source file changes. Everything a
run writes stays under `.bench_build/` in the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit; the program's own
# build passes the same list to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint(tops, files):
    """Hash of the given build inputs, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = list(files)
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def java_cmd(classpath, main, *args):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", "-cp", classpath, main, *args]


def java_env():
    # Two Spark task threads on the four-core reference host: the scheduler,
    # stream, JIT and GC threads keep a core of headroom, which cut the
    # run-to-run spread of most metrics from 20-40 % to under 10 %.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = "2"
    return env


def run_logged(cmd, log, timeout, env, cwd=None):
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=fh, env=env,
                                cwd=cwd, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{cmd[-1] if len(cmd) < 3 else ' '.join(cmd[-8:])} timed out after {timeout} s; see {log}")
    return proc.returncode, out


PROGRAM = ([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project")],
           [os.path.join(ROOT, "build.sbt")])
HARNESS = ([os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")],
           [os.path.join(BENCH, "build.sbt")])


def build():
    """Compile program + harness and export the classpath; train the model
    when the program (or the training step) changed."""
    stamp = os.path.join(OUT, "build.stamp")
    fp = fingerprint(PROGRAM[0] + HARNESS[0], PROGRAM[1] + HARNESS[1])
    model_fp = fingerprint(PROGRAM[0], PROGRAM[1] + [os.path.join(BENCH, "src", "main", "scala", "perfbench", "Train.scala")])
    model_stamp = os.path.join(OUT, "model.stamp")
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    code, out = run_logged(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        log, 840, sbt_env(), cwd=BENCH)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        with open(log, "a") as fh:
            fh.write(out)
        fail(f"build failed (exit {code}); see {log}")
    classpath = lines[-1].strip()
    with open(os.path.join(OUT, "classpath.txt"), "w") as fh:
        fh.write(classpath)
    if not (os.path.exists(model_stamp) and open(model_stamp).read() == model_fp):
        model = os.path.join(OUT, "model")
        shutil.rmtree(model, ignore_errors=True)
        code, _ = run_logged(java_cmd(classpath, "perfbench.Train", model),
                             os.path.join(OUT, "train.log"), 600, java_env(),
                             cwd=os.path.join(OUT, "tmp"))
        if code != 0:
            fail(f"training failed (exit {code}); see {OUT}/train.log")
        with open(model_stamp, "w") as fh:
            fh.write(model_fp)
    with open(stamp, "w") as fh:
        fh.write(fp)


def run_jvm(a, extra=()):
    classpath = open(os.path.join(OUT, "classpath.txt")).read()
    work = os.path.join(OUT, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(classpath, "perfbench.Main",
                   "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--work", work, "--model", os.path.join(OUT, "model"),
                   "--expected", os.path.join(BENCH, "expected_mix.tsv"), *extra)
    log = os.path.join(OUT, f"run-{a.workload}.log")
    code, out = run_logged(cmd, log, RUN_TIMEOUT_S, java_env(), cwd=work)
    result = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not result:
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit {code}); see {log}")
    return json.loads(result[-1][len("PERFBENCH_RESULT "):])


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="write the query mix's rows/hashes to expected_mix.tsv")
    a = p.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(spec_file):
        fail("run from the root of a checkout of the program (build.sbt, src/main/scala, BENCHMARK.json)")
    spec = json.load(open(spec_file))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    build()
    rec = run_jvm(a, ["--record"] if a.record else [])
    vals = rec["values"]
    if a.trace:
        with open(os.path.join(OUT, "model.train_s")) as fh:
            vals["setup.train_s"] = float(fh.read())

    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    with open(os.path.join(OUT, "records", f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    for msg in rec["problems"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        v = vals.get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"the run did not report {m['name']}")
            v = 0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if rec["attempted"] < 1:
        fail("the run attempted no operation")
    print(json.dumps({"correct": not rec["problems"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
