#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload load|curate --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the harness and
graft's sources with sbt into .bench_build/ (offline, from the local
caches); later runs reuse the build while the sources are unchanged. Each
run is then one fresh JVM (perfbench.Main) whose last stdout line is the
result JSON; this script checks that line against BENCHMARK.json and
prints it last. A run record and, with --trace 1, a spans file land in
.bench_build/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "sbt" / "classpath.txt"
STAMP = BUILD / "build.stamp"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
# Module-access flags Spark needs on JDK 17 outside spark-submit
# (the same list as the root build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


RUNNING = []


def stop_children():
    """Kills every child process group this script started and waits."""
    for p in RUNNING:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    RUNNING.clear()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    RUNNING.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_children()
        fail(f"{cmd[0]} exceeded {timeout} s", 4)
    RUNNING.remove(p)
    return p.returncode, out


def sources():
    """Every file the build reads; the build is redone when one changes."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    digest = source_hash()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == digest:
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc, _ = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); full log in {log}", 3)
    STAMP.write_text(digest)


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["load", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT / 'src/main/scala/graft'}; "
             "run from the root of a full checkout")
    build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = BUILD / "work" / tag
    record = BUILD / "records" / f"{tag}.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cp = ":".join(CLASSPATH.read_text().split("\n"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--record", str(record)]

    try:
        rc, out = run_child(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail(f"harness exited {rc}", 5)
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}", 6)
    print(json.dumps(result))
    if not result["correct"]:
        fail("an output check failed; see the run record " + str(record), 7)


if __name__ == "__main__":
    main()
