#!/usr/bin/env python3
"""Spark jobs of each layer call of a traced perfbench run, with the driver
time between them.

Usage: python3 tools/span_jobs.py <spans.jsonl>

The input is the span list a traced run writes
(`perfbench/work/results/<workload>-seed<n>-spans.jsonl`): one JSON object
per line with `id`, `parent`, `kind`, `name`, `start_ns` and `end_ns`, chained
operation -> call -> job -> stage. For each call name (`runAndCommit.killed`,
`readCommitted`, `lookup`, ...) it prints, as medians over the calls of that
name:

- the call's wall time, the part of it inside a job, and the driver time
  outside every job;
- each job in start order: the driver gap before it (from the call's start
  or the end of the jobs before it), its wall time and its stages' wall
  times in start order;
- the driver gap after the last job.

Calls of one name that ran a different number of jobs than most of them are
counted and left out of the medians. Job and stage times come from the
listener's millisecond clock, call times from the harness's nanosecond one.
"""
import json
import statistics
import sys
from collections import Counter, defaultdict


def ms(ns):
    return ns / 1e6


def union_ns(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def call_shape(call, jobs, stages_of):
    """(wall, in_jobs, gaps before each job and after the last, job walls,
    stage walls per job) of one call, all in ms."""
    jobs = sorted(jobs, key=lambda j: (j["start_ns"], j["id"]))
    gaps, covered_to = [], call["start_ns"]
    for j in jobs:
        gaps.append(ms(max(0, j["start_ns"] - covered_to)))
        covered_to = max(covered_to, j["end_ns"])
    gaps.append(ms(max(0, call["end_ns"] - covered_to)))
    clipped = [(max(j["start_ns"], call["start_ns"]), min(j["end_ns"], call["end_ns"]))
               for j in jobs]
    in_jobs = ms(union_ns([iv for iv in clipped if iv[1] > iv[0]]))
    job_ms = [ms(j["end_ns"] - j["start_ns"]) for j in jobs]
    stage_ms = [[ms(s["end_ns"] - s["start_ns"])
                 for s in sorted(stages_of[j["id"]], key=lambda s: (s["start_ns"], s["id"]))]
                for j in jobs]
    return ms(call["end_ns"] - call["start_ns"]), in_jobs, gaps, job_ms, stage_ms


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    spans = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    by_name = defaultdict(list)
    for c in spans:
        if c["kind"] == "call":
            jobs = [j for j in children[c["id"]] if j["kind"] == "job"]
            by_name[c["name"]].append(call_shape(c, jobs, {
                j["id"]: [s for s in children[j["id"]] if s["kind"] == "stage"] for j in jobs}))

    for name, shapes in by_name.items():
        n_jobs, n = Counter(len(sh[3]) for sh in shapes).most_common(1)[0]
        kept = [sh for sh in shapes if len(sh[3]) == n_jobs]
        wall, in_jobs = med([sh[0] for sh in kept]), med([sh[1] for sh in kept])
        other = f", {len(shapes) - n} with another job count left out" if n < len(shapes) else ""
        print(f"{name}: {n} calls{other}; {n_jobs} jobs; wall {wall:.0f} ms, "
              f"in jobs {in_jobs:.0f} ms, driver outside jobs "
              f"{med([sh[0] - sh[1] for sh in kept]):.0f} ms")
        for i in range(n_jobs):
            n_stages = Counter(len(sh[4][i]) for sh in kept).most_common(1)[0][0]
            stage_meds = [med([sh[4][i][k] for sh in kept if len(sh[4][i]) == n_stages])
                          for k in range(n_stages)]
            stages = ", ".join(f"{x:.0f}" for x in stage_meds)
            print(f"  gap {med([sh[2][i] for sh in kept]):6.0f} ms | job {i + 1}: "
                  f"{med([sh[3][i] for sh in kept]):6.0f} ms, stages [{stages}] ms")
        print(f"  gap {med([sh[2][n_jobs] for sh in kept]):6.0f} ms | end of call")


if __name__ == "__main__":
    main()
