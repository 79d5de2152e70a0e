#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload esoa_link --seed 1 --seconds 10 --trace 0

Run from the root of a graft source tree. It compiles `src/main` and the
harness under `perfbench/scala` with the Scala compiler that ships in the
Spark distribution (cached under `.bench_build/`), generates the
workload's inputs from the seed, runs them in one JVM at `local[N]`,
checks the outputs and prints one JSON result as the last stdout line.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones of a separate traced pass. The full result, host
stamp included, is also written under `.bench_build/results/`.
"""
import argparse
import glob
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

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("esoa_link", "corpus_curation")
CPUS_MAX = 4
DRIVER_HEAP = "3g"
# leaves room for the oracle check inside the 180 s an invocation may take
JVM_TIMEOUT_S = 168
ADD_OPENS = ("java.base/java.lang java.base/java.lang.invoke "
             "java.base/java.lang.reflect java.base/java.io java.base/java.net "
             "java.base/java.nio java.base/java.util "
             "java.base/java.util.concurrent "
             "java.base/java.util.concurrent.atomic java.base/sun.nio.ch "
             "java.base/sun.nio.cs java.base/sun.security.action "
             "java.base/sun.util.calendar").split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else spark-submit's."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for base in ("src/main/scala", "src/main/resources", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build(root, jars):
    """Compile once per source tree; returns the classpath."""
    srcs = sources(root)
    scala = [s for s in srcs if s.endswith(".scala")]
    if not any("/src/main/scala/" in s for s in scala):
        fail("no graft sources under src/main/scala; run from a graft tree")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    tree = h.hexdigest()[:16]
    out = os.path.join(root, ".bench_build", "classes", tree)
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + scala
        # cwd is the empty output dir: scalac's default classpath is ".",
        # and the checkout root would expose perfbench/scala as a package
        r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("compile failed:\n" + r.stdout[-4000:])
        os.rename(tmp, out)
    cp = [out, os.path.join(root, "src", "main", "resources"),
          os.path.join(jars, "*")]
    return os.pathsep.join(cp), tree


def git_sha(root):
    """HEAD of the tree's own repository; None in an exported checkout."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(root, cp, a, cpus, data, work, raw_out):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    # the benchmark's own index estate and scratch: never a shared /tmp one
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    # a deep call-site stack, so attribution reaches past nested helpers
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", "-Dspark.callstack.depth=64",
            f"-Djava.io.tmpdir={work}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--data", data,
            "--work", work, "--root", root, "--out", raw_out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            p.kill()
            p.wait()
            raise
    return p.returncode, log


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated benchmark still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    root = os.getcwd()
    jars = spark_jars()
    cp, tree = build(root, jars)
    cpus = min(os.cpu_count() or 1, CPUS_MAX)

    run_dir = os.path.join(root, ".bench_build", "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        facts = gen.generate(a.workload, a.seed, data, root)
        gen_s = time.monotonic() - t0
        raw_out = os.path.join(work, "raw.json")
        t0 = time.monotonic()
        try:
            code, log = run_jvm(root, cp, a, cpus, data, work, raw_out)
        except subprocess.TimeoutExpired:
            code, log = -1, os.path.join(work, "jvm.log")
        jvm_s = time.monotonic() - t0
        raw = {}
        if os.path.exists(raw_out):
            with open(raw_out) as f:
                raw = json.load(f)
        if code != 0 or "fatal" in raw or "runs" not in raw:
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
        checks = list(raw.get("checks", []))
        t0 = time.monotonic()
        if raw.get("oracle_dir"):
            checks += stats.oracle_checks(root, data, raw["oracle_dir"])
        result = stats.summarize(raw, checks, gen_s, a.trace)
        result["details"].update(jvm_s=jvm_s,
                                 oracle_s=time.monotonic() - t0)
        result["stamp"] = dict(raw.get("stamp", {}), git_sha=git_sha(root),
                               source_tree=tree, local_cpus=cpus,
                               driver_heap=DRIVER_HEAP)
        result["inputs"] = dict(facts, **raw.get("facts", {}), seed=a.seed)
        result["workload"] = a.workload
        result["elapsed_s"] = round(time.monotonic() - t_start, 3)
        res_dir = os.path.join(root, ".bench_build", "results")
        os.makedirs(res_dir, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"
        spans = os.path.join(work, "trace_spans.json")
        if os.path.exists(spans):
            kept = os.path.join(res_dir, name[:-5] + "-spans.json")
            shutil.move(spans, kept)
            result["details"]["trace"]["spans_file"] = kept
        with open(os.path.join(res_dir, name), "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(json.dumps({"workload": a.workload, "stamp": result["stamp"],
                          "inputs": result["inputs"],
                          "details": result["details"]}, sort_keys=True))
        print(json.dumps(stats.contract_line(result)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
