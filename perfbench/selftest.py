#!/usr/bin/env python3
"""Self-tests of the benchmark harness (about two minutes).

Usage (from the repository root): python3 perfbench/selftest.py

1. Smoke: the 3-gate `smoke` workload on the sf0.001 corpus, a
   2-second run with tracing off and one with tracing on. Every
   end-to-end and every per-layer metric named in BENCHMARK.json must
   be printed with its unit, every op must verify, none may fail.
2. Negative, two runs on a private copy of that corpus. First the
   expected hash of q_top_ranking is corrupted, so every q_top_ranking
   op mismatches; then that hash is restored and documents.parquet is
   removed, so every q_pii_scrub op throws. In each run the failing
   ops must count in `failed` and in `failed_frac`, the failing gate
   must be named, and `correct` must turn false.

Exits non-zero on the first failed check.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def bench(*extra, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "smoke", "--seed", "1",
           "--seconds", "2", "--trace", str(trace), *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
    if out.returncode != 0:
        sys.exit(f"selftest: run failed ({out.returncode}):\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    summary = json.loads(lines[-2].split("perfbench: ", 1)[1])
    return summary, json.loads(lines[-1])


def check(cond, what):
    print(f"selftest: {'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        sys.exit(1)


def expect_metrics(result, spec):
    names = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    check(set(got) == set(names), f"metric names {sorted(set(names) ^ set(got)) or 'all present'}")
    check(all(got[n]["unit"] == u and isinstance(got[n]["value"], (int, float))
              for n, u in names.items()), "every metric has its unit and a number")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    summary, result = bench()
    check(set(result) == {"correct", "attempted", "failed", "metrics"}, "result line keys")
    expect_metrics(result, spec["end_to_end"])
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 3,
          f"smoke verifies ({result['attempted']} ops, {result['failed']} failed)")
    _, traced = bench(trace=1)
    expect_metrics(traced, spec["per_layer"])

    data = os.path.join(BUILD, "selftest-data")
    shutil.rmtree(data, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, summary["inputs"]["dir"]), data)
    bench("--data", data)
    caches = glob.glob(os.path.join(BUILD, "verified", "*-selftest-data.json"))
    check(len(caches) == 1, "verified-hash cache written")
    with open(caches[0]) as f:
        expected = json.load(f)

    def expect_failing(gate, what):
        summary, result = bench("--data", data)
        bad = summary["failing_gates"]
        per_gate = summary["ops"] // 3
        check(set(bad) == {gate}, f"{what}: failing gates named: {sorted(bad)}")
        check(result["failed"] == per_gate and not result["correct"],
              f"{what}: counts as failed and not correct "
              f"({result['failed']} of {result['attempted']}, correct={result['correct']})")
        check(abs(summary["failed_frac"] - result["failed"] / result["attempted"]) < 1e-9,
              f"{what}: failed_frac = {summary['failed_frac']:.3f}")

    corrupt = json.loads(json.dumps(expected))
    corrupt["q_top_ranking"]["hash"] = "0/0"
    with open(caches[0], "w") as f:
        json.dump(corrupt, f)
    expect_failing("q_top_ranking", "corrupted expected hash")
    with open(caches[0], "w") as f:
        json.dump(expected, f)
    os.remove(os.path.join(data, "documents.parquet"))
    expect_failing("q_pii_scrub", "thrown gate")
    shutil.rmtree(data, ignore_errors=True)
    for c in caches:
        os.remove(c)
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()
