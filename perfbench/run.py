#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the classpath
under .bench_build/; later runs start the benchmark JVM directly. The last
line of standard output is the result JSON. Exit code 0 means every
operation's output checked correct; 1 a wrong output; 2 a usage or build
error.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

SBT_OPTS = " ".join([
    "-Dsbt.override.build.repos=true",
    "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
    "-Dsbt.offline=true",
    "-Dsbt.server.autostart=false",
    "-Xmx2g",
])

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, engine and benchmark."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    want = stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    log = BUILD / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(want)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="rewrite perfbench/expected_fingerprints.tsv from this build")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no engine sources here: run from the root of a graft checkout")
    cp = classpath()

    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace,
           "--work", str(work), "--records", str(BUILD / "records"),
           "--fingerprints", str(BENCH / "expected_fingerprints.tsv")]
    if a.record_fingerprints:
        cmd += ["--record-fingerprints", "1"]

    log = BUILD / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        # Spark's scratch space stays inside the checkout (spark.local.dir)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=BUILD, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            subprocess.run(["rm", "-rf", str(work)], check=False)
    if out is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped; see {log}")
    if a.record_fingerprints:
        print(out, end="")
        sys.exit(proc.returncode)
    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result; see {log}")
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
