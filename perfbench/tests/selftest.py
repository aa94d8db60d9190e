#!/usr/bin/env python3
"""Self-test of the benchmark, on tiny inputs.

    python3 perfbench/tests/selftest.py [workload ...]

For each workload (default: every one BENCHMARK.json names, plus the
two run by name only, ingest_stream and curation_batch):
  * a timed run prints every end-to-end metric with its unit, and
    verification passes (correct, failed == 0);
  * a traced run prints every per-layer metric with its unit;
  * a run that drops one sink row before verification reports
    failed > 0, so the check cannot pass vacuously.
When every listed workload ran, each per-layer metric must also be
non-zero in the traced run of at least one of them, so every layer
(the gate and curation steps included) is measured on a listed
workload. Exits non-zero on the first failure. Run from the
repository root.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, drop=False):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "4",
                             "--trace", str(trace), "--size", "tiny"]
    if drop:
        cmd.append("--drop-sink-row")
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(workload, result, declared):
    got = result["metrics"]
    for m in declared:
        assert m["name"] in got, f"{workload}: metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], \
            f"{workload}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float))


# counters of faults and spills, which a healthy run does not have
MAY_BE_ZERO = {"kafkawire.retries", "spill.bytes"}


def main():
    listed = [w["name"] for w in SPEC["workloads"]]
    names = sys.argv[1:] or listed + ["ingest_stream", "curation_batch"]
    seen = set()
    for w in names:
        r = run(w, 0)
        check_metrics(w, r, SPEC["end_to_end"])
        assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, f"{w}: {r}"
        for m in SPEC["end_to_end"]:
            assert r["metrics"][m["name"]]["value"] > 0, f"{w}: {m['name']} is 0"
        print(f"ok  {w} timed run: {r['attempted']} attempted, 0 failed", flush=True)

        r = run(w, 1)
        check_metrics(w, r, SPEC["per_layer"])
        assert r["correct"] and r["failed"] == 0, f"{w} traced: {r}"
        print(f"ok  {w} traced run: {len(r['metrics'])} per-layer metrics", flush=True)
        if w in listed:
            seen |= {k for k, v in r["metrics"].items() if v["value"] != 0}

        r = run(w, 0, drop=True)
        assert not r["correct"] and r["failed"] > 0, f"{w}: dropped row not detected: {r}"
        print(f"ok  {w} dropped sink row detected: {r['failed']} failed", flush=True)

    if set(listed) <= set(names):
        unmeasured = {m["name"] for m in SPEC["per_layer"]} - seen - MAY_BE_ZERO
        assert not unmeasured, f"per-layer metrics 0 on every listed workload: {sorted(unmeasured)}"
        print("ok  every per-layer metric is measured on a listed workload", flush=True)


if __name__ == "__main__":
    main()
