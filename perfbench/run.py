#!/usr/bin/env python3
"""Benchmark launcher: builds the library and the benchmark from the sources
of this checkout (once per source state), then runs one workload in a fresh
JVM and relays its output. The last line printed is the result object.

    python3 perfbench/run.py --workload build_dedup --seed 1 --seconds 15 --trace 0

Extra options: --size tiny (the smoke-test size), --corrupt CHECK (falsify
one answer so that its correctness check must fail).

Everything it writes stays inside the checkout, under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("build_dedup", "serve_read", "maintain_mixed")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose content decides what the build produces."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile (if the sources changed since the last build) and return the
    runtime classpath."""
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("perfbench: building the library and the benchmark", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        fail("build failed")
    cp = lines[-1].strip()
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(want)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", choices=("pairs", "point", "topk", "maint"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to the benchmark (expected {ROOT}/build.sbt "
             "and src/main/scala)")
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    if not java or not Path(java).exists():
        fail("java is not available")

    cp = build()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    trace_file = WORK / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # C1 only: C2 settles each JVM on differently optimised code, which moved
    # the same run by up to 25% between JVMs; C1 runs repeat within ~8%.
    # A fixed heap keeps heap resizing out of the timings. C1 alone gets a
    # 48 MB code cache by default; every query loads freshly generated
    # classes, which fill it within a run, and the flushing that follows
    # recompiles hot code: CPU time per query doubled for several queries.
    cmd += ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
            "-Xms3g", "-Xmx3g",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--work", str(run_dir),
            "--trace-file", str(trace_file)]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]

    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    last = ""
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
        for line in out.splitlines():
            print(line)
            if line.strip():
                last = line
        sys.stdout.flush()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result = json.loads(last)
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    if not ok:
        fail("the run ended without a result line", 4)


if __name__ == "__main__":
    main()
