#!/usr/bin/env python3
"""Smoke test for the benchmark. Run from the repository root:

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: curation, ingest, marts) it makes short runs
and checks that
  - every output check passes (fail_ratio 0, "correct": true);
  - the result line carries every end-to-end metric untraced and every
    per-layer metric traced, and the traced record has spans covering at
    least 90% of the traced window;
  - traced and untraced runs produce the same outputs;
  - the input generator gives the same digest for the same seed and a
    different one for another seed (curation).
Exits non-zero on the first failed expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, trace, seconds=4):
    cmd = ["python3", os.path.join("perfbench", "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} seed={seed} trace={trace}: exit "
                 f"{p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    tag = f"{workload}-seed{seed}-trace{trace}-tiny"
    with open(os.path.join(HERE, "out", tag + ".json")) as fh:
        record = json.load(fh)
    return result, record


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def check_run(workload, result, record, trace):
    spec = bench_spec()
    expect(result["correct"] and result["failed"] == 0
           and result["attempted"] > 0,
           f"{workload} trace={trace}: all {result['attempted']} checks pass "
           f"({record['checks']['failures'][:3]})")
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    expect(sorted(result["metrics"]) == sorted(names),
           f"{workload} trace={trace}: result carries exactly the "
           f"{len(names)} {'per-layer' if trace else 'end-to-end'} metrics")
    if trace:
        expect(record["top_level_coverage"] >= 0.9,
               f"{workload}: top-level spans cover "
               f"{record['top_level_coverage']:.3f} of the traced window")
        expect(len(record["spans"]) > 0 and "tracing_overhead" in record,
               f"{workload}: spans and tracing overhead recorded")


def main():
    workloads = sys.argv[1:] or ["curation", "ingest", "marts"]
    for w in workloads:
        r0, rec0 = run(w, 7, 0)
        check_run(w, r0, rec0, 0)
        r1, rec1 = run(w, 7, 1)
        check_run(w, r1, rec1, 1)
        o0, o1 = rec0["outputs"], rec1["outputs"]
        common = sorted(set(o0) & set(o1))
        expect(len(common) > 0 and all(o0[k] == o1[k] for k in common),
               f"{w}: traced and untraced outputs agree on {len(common)} "
               f"results")
        if w == "curation":
            digests = {k: v for k, v in rec0["inputs"].items()
                       if k.startswith("digest_")}
            same = {k: v for k, v in rec1["inputs"].items()
                    if k.startswith("digest_")}
            expect(digests and digests == same,
                   "curation: same seed, same input digest")
            _, rec2 = run(w, 8, 0)
            other = {k: v for k, v in rec2["inputs"].items()
                     if k.startswith("digest_")}
            expect(all(other[k] != digests[k] for k in digests),
                   "curation: another seed, another input digest")
    print("smoke test passed")


if __name__ == "__main__":
    main()
