#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload dedup_curate --seed 1 --seconds 10 --trace 0

It compiles the checkout's `src/main` and the harness in `perfbench/src`
with the Scala compiler that ships in Spark's jars (cached under
`.bench_build/`, keyed by a hash of the sources), starts one JVM at
`local[k]` with k = the number of usable cores, and prints one JSON line
with the run's metrics last on stdout. A line of host facts comes just
before it. Each run gets a fresh `java.io.tmpdir` and `spark.local.dir`
under `.bench_run/`, deleted afterwards. Digests of query outputs are kept
per (workload, seed) in `.bench_state/`; traced runs leave their spans in
`.bench_results/`.
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
WORKLOADS = ("dedup_curate", "consumer_stream")
HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main, res, bench


def build(root, jars):
    """Compiles the program and the harness once per source hash."""
    main, res, bench = sources(root)
    if not main:
        raise SystemExit("perfbench: no src/main/scala here; run from a graft checkout")
    h = hashlib.sha256()
    for p in main + res + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    top = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(top, "graft-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "OK")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "main"))
    os.makedirs(os.path.join(tmp, "bench"))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cp = ":".join(jars)

    def scalac(dest, classpath, files):
        t0 = time.time()
        subprocess.run([java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
                        "-d", dest, "-cp", classpath] + files, check=True)
        log(f"compiled {len(files)} files into {os.path.relpath(dest, root)} "
            f"in {time.time() - t0:.1f}s")

    scalac(os.path.join(tmp, "main"), cp, main)
    rroot = os.path.join(root, "src/main/resources")
    for p in res:
        dst = os.path.join(tmp, "main", os.path.relpath(p, rroot))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(os.path.join(tmp, "bench"), os.path.join(tmp, "main") + ":" + cp, bench)
    open(os.path.join(tmp, "OK"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    base = os.path.join(HERE, "base")
    if not os.path.isdir(base):
        raise SystemExit("perfbench: base tables missing")
    jars = spark_jars()
    out = build(root, jars)

    k = cores()
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.txt")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java_bin(), f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([os.path.join(out, "bench"), os.path.join(out, "main")] + jars),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(k),
            "--run-dir", run_dir, "--base", base,
            "--state-dir", os.path.join(root, ".bench_state"), "--out", result]

    proc = None

    def stop(*_):
        if proc and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        # the JVM's stdout goes to stderr: stdout carries only the result
        proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_TIMEOUT_S}s; killed")
            stop()
        if not os.path.exists(result):
            log(f"JVM exited with {code} and no result")
            sys.exit(code or 4)
        with open(result) as f:
            lines = f.read().splitlines()
        res_line, host = lines[0], json.loads(lines[1])
        host["nproc"] = os.cpu_count()
        host["heap"] = HEAP
        if a.trace:
            keep = os.path.join(root, ".bench_results")
            os.makedirs(keep, exist_ok=True)
            stem = os.path.join(keep, f"{a.workload}-{a.seed}-trace")
            shutil.copyfile(result + ".spans.json", stem + ".spans.json")
            with open(stem + ".json", "w") as f:
                json.dump({"result": json.loads(res_line), "host": host}, f, indent=1)
        print(json.dumps({"host": host}))
        print(res_line, flush=True)
        sys.exit(code)
    finally:
        if proc and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
