#!/usr/bin/env python3
"""Extraction benchmark: one command builds the harness from source, runs one
workload for a fixed time, checks every output, and prints the result.

    python3 perfbench/run.py --workload pdf_extract --seed 1 --seconds 3 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end ones, with `--trace 1` the per-layer ones (see
BENCHMARK.json and perfbench/README.md). The exit code is 0 only when every
operation passed its output check.

The harness (perfbench/src) is compiled together with the engine's sources
(src/main/scala) by perfbench/build.sbt; the build is redone whenever a
source file changes. Generated inputs, commit roots, Spark local directories and
per-run artifacts go under perfbench/work.
"""
import argparse
import hashlib
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = HERE / "target"
CLASSPATH_FILE = BUILD_DIR / "perfbench-classpath.txt"
STAMP_FILE = BUILD_DIR / "perfbench-source.sha256"
WORK = HERE / "work"
WORKLOADS = ("pdf_extract", "pdf_commit")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def build(digest, env):
    if CLASSPATH_FILE.exists() and STAMP_FILE.exists() and STAMP_FILE.read_text() == digest:
        return CLASSPATH_FILE.read_text().strip()
    print("[perfbench] building harness and engine from source", file=sys.stderr)
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    try:
        p = subprocess.run(
            [sbt, "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"build failed with exit code {p.returncode}")
    cp = [ln for ln in p.stdout.splitlines()
          if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    CLASSPATH_FILE.write_text(cp[-1].strip())
    STAMP_FILE.write_text(digest)
    return cp[-1].strip()


def git_commit():
    if not (ROOT / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def reset_work():
    """Empty the per-run working files; per-run artifacts under results/ stay."""
    WORK.mkdir(exist_ok=True)
    for p in WORK.iterdir():
        if p.name != "results":
            shutil.rmtree(p) if p.is_dir() else p.unlink()
    (WORK / "tmp").mkdir()


def run_jvm(cmd, env):
    """Run the harness, forwarding its stdout; kill its process group on timeout."""
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    def kill():
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()

    def on_term(*_):
        kill()
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    lines = []
    try:
        sel = selectors.DefaultSelector()
        sel.register(child.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                kill()
                fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 3)
            if sel.select(timeout=min(left, 1.0)):
                line = child.stdout.readline()
                if not line:
                    break
                lines.append(line.rstrip("\n"))
                print(line, end="", flush=True)
        child.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        kill()
        fail("harness did not exit after closing its output", 3)
    finally:
        if child.poll() is None:
            kill()
    return child.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="bench", choices=("bench", "tiny"),
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--corrupt", type=int, default=0, choices=(0, 1),
                    help="corrupt one output row of the first timed operation")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}: "
             "run from a full checkout of the repository")

    env = dict(os.environ, SPARK_HOME=spark_home())
    digest = source_digest()
    cp = build(digest, env)
    reset_work()
    java = shutil.which("java") or fail("java not found on PATH")
    cmd = [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(WORK), "--scale", a.scale,
           "--corrupt", str(a.corrupt),
           "--source", f"git={git_commit()};src-sha256={digest[:16]}"]
    code, lines = run_jvm(cmd, env)
    last = next((ln for ln in reversed(lines) if ln.strip()), "")
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"harness exited with code {code} without a result line", code or 2)
    if code != 0 or not result["correct"]:
        fail(f"{result['failed']} of {result['attempted']} operations failed "
             "their output check", code or 1)


if __name__ == "__main__":
    main()
