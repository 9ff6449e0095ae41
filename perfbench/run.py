#!/usr/bin/env python3
"""Benchmark entry point: builds the library and the benchmark program from source, runs
one workload in a fresh JVM and prints the result as the last stdout line.

Usage, from the repository root:

    python3 perfbench/run.py --workload scan --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

The build (sbt, offline) happens once per checkout and is cached under
`.bench_build/`, keyed by a hash of every source and build file it reads.
Each run works in its own directory under `.bench_build/work/`, removed when
the run ends; traced runs leave their span file in `.bench_build/traces/`.
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

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties")))
    return out


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Runs `cmd` in its own process group, output to `log_path`; kills the
    whole group on timeout and always waits for it to end."""
    with open(log_path, "ab") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(root, bench):
    """Compiles the library and the benchmark program; returns the runtime classpath."""
    files = source_files(root)
    if not any(f.startswith(os.path.join(root, "src", "main")) for f in files):
        fail("no library sources under src/main: run from the repository root")
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    cp_file = os.path.join(bench, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            saved = fh.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == stamp:
            return saved[1].strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log("building (first run, or the sources changed)")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(bench, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no JVM the build starts (sbt's version probe included) writes perf data
    # or temp files outside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    # sbt's global settings and temp files stay in the checkout too
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-Dsbt.global.base={bench}/sbt-global",
           f"-Dsbt.ivy.home={bench}/ivy2",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("export perfbench/Runtime/fullClasspath")
    log_path = os.path.join(bench, "build.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    t0 = time.time()
    rc = run_bounded(cmd, os.path.join(root, "perfbench"), log_path, BUILD_TIMEOUT_S, env)
    lines = [l.strip() for l in tail(log_path, 5).splitlines() if l.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(tail(log_path))
        fail(f"build failed (exit {rc})", 1)
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1] + "\n")
    return lines[-1]


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, kb // (1024 * 1024) // 3))
    except (OSError, StopIteration):
        return 2


def java_cmd(cp, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def check_result(res, root, trace):
    """The result has the promised shape, and exactly the metrics and units
    BENCHMARK.json lists for this kind of run."""
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(res) != keys:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["correct"], bool) or res["attempted"] < 1:
        raise ValueError("bad correct/attempted")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    if got != want:
        raise ValueError(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["scan", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("no build.sbt here: run from the repository root")
    bench = os.path.join(root, ".bench_build")
    os.makedirs(bench, exist_ok=True)
    cp = build(root, bench)

    tag = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bench, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_dir = os.path.join(bench, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{tag}.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    try:
        if a.selftest:
            rc = run_bounded(java_cmd(cp, work, "perfbench.SelfTest", [work]), root, log_path,
                             RUN_TIMEOUT_S)
            sys.stdout.write("".join(l for l in tail(log_path, 10 ** 6).splitlines(True)
                                     if l.startswith("[selftest]")))
            sys.exit(0 if rc == 0 else 1)
        out = os.path.join(work, "result.json")
        spans = os.path.join(bench, "traces", f"{a.workload}-seed{a.seed}.spans.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out, "--spans", spans]
        rc = run_bounded(java_cmd(cp, work, "perfbench.Main", args), root, log_path,
                         RUN_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(out):
            sys.stderr.write(tail(log_path))
            fail(f"run failed (exit {rc}); log: {log_path}", 1)
        with open(out) as fh:
            res = json.load(fh)
        try:
            check_result(res, root, a.trace)
        except (OSError, ValueError) as e:
            fail(f"malformed result: {e}", 1)
        for l in tail(log_path, 200).splitlines():
            if l.startswith("[perfbench]"):
                log(l[len("[perfbench] "):])
        print(json.dumps(res, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
