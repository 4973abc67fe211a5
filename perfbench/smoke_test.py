#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes (the 12k-cell fixture grid and
short runs of the registry slice).

    python3 perfbench/smoke_test.py

Run from the root of a checkout. It asserts that:
  - the one command prints every metric named in BENCHMARK.json, with its
    unit: end-to-end metrics untraced, per-layer metrics traced;
  - outputs check out (correct, no failed op) on every workload;
  - an op checked against a deliberately corrupted expectation counts as
    failed and its time is left out of every latency;
  - a run whose every op fails exits non-zero.
"""
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, seconds=3, corrupt_every=0, expect_ok=True):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", str(seconds),
                              "--trace", str(trace), "--grid", "small",
                              "--corrupt-every", str(corrupt_every)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert (p.returncode == 0) == expect_ok, (cmd, p.returncode, lines[-2:])
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    return detail, result


def check_names(result, spec):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    assert got == want, (got, want)
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main():
    for w in (w["name"] for w in BENCH["workloads"]):
        _, r = run(w)
        check_names(r, BENCH["end_to_end"])
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
        _, r = run(w, trace=1)
        check_names(r, BENCH["per_layer"])
        print(f"ok  {w}: end-to-end and per-layer metrics printed with units")

    d, r = run("registry_spatial")
    assert r["correct"] and r["failed"] == 0, r
    print(f"ok  registry_spatial: {r['attempted']} queries match their digests")

    for w in (w["name"] for w in BENCH["workloads"]):
        d, r = run(w, seconds=4, corrupt_every=2)
        reports = d["ops"]["report"]
        assert not r["correct"] and r["failed"] >= 1, r
        assert r["failed"] == reports["failed"] == len(reports["failed_seconds"]), d
        assert len(reports["seconds"]) == reports["n"] - reports["failed"], d
        p50 = r["metrics"]["op_p50_s"]["value"]
        assert abs(p50 - statistics.median(reports["seconds"])) < 1e-9, (p50, reports)
        print(f"ok  {w}: {r['failed']} of {r['attempted']} ops corrupted, "
              "counted as failed and left out of op_p50_s")

    d, r = run("reserves_grid", seconds=1, corrupt_every=1, expect_ok=False)
    assert r["failed"] == r["attempted"] and r["metrics"]["op_p50_s"]["value"] is None, r
    print("ok  reserves_grid: a run with no correct op exits non-zero")


if __name__ == "__main__":
    main()
    sys.exit(0)
