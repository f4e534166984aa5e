#!/usr/bin/env python3
"""Smoke test of the extraction benchmark at tiny scale (a few minutes):

    python3 perfbench/smoke_test.py

1. every workload runs untraced, passes its output checks and reports
   exactly the end-to-end metrics BENCHMARK.json names, with their units;
2. a traced run reports exactly the per-layer metrics BENCHMARK.json names,
   with their units;
3. on every workload, a deliberately corrupted output row is caught: the run
   reports `correct: false` and exits non-zero;
4. run outside a full checkout (benchmark files only), the benchmark exits
   non-zero without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace=0, corrupt=0, cwd=ROOT, runner=HERE / "run.py"):
    p = subprocess.run(
        [sys.executable, str(runner), "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
         "--corrupt", str(corrupt)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result, p.stderr


def units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


def expect(cond, what, stderr=""):
    if not cond:
        sys.stderr.write(stderr[-3000:])
        sys.exit(f"FAIL: {what}")
    print(f"ok: {what}", flush=True)


def main():
    for w in WORKLOADS:
        code, res, err = run(w)
        expect(code == 0 and res and res["correct"] and res["failed"] == 0
               and res["attempted"] >= 1, f"{w}: untraced run passes its checks", err)
        expect(units(res) == END_TO_END, f"{w}: reports every end-to-end metric", err)

    code, res, err = run("pdf_extract", trace=1)
    expect(code == 0 and res and res["correct"], "traced run passes its checks", err)
    expect(units(res) == PER_LAYER, "traced run reports every per-layer metric", err)

    for w in WORKLOADS:
        code, res, err = run(w, corrupt=1)
        expect(code != 0 and res and not res["correct"] and res["failed"] >= 1,
               f"{w}: corrupted output is caught", err)

    bare = HERE / "work" / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("work", "target"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    code, res, err = run("pdf_extract", cwd=bare, runner=bare / "perfbench" / "run.py")
    shutil.rmtree(bare)
    expect(code != 0 and res is None, "benchmark files alone: fails without a result", err)


if __name__ == "__main__":
    main()
