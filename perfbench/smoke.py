#!/usr/bin/env python3
"""Smoke self-test of the benchmark at sf0.001 (about three minutes).

    python3 perfbench/smoke.py

Run from the root of a checkout. For every workload in BENCHMARK.json it
makes one traced run and checks that every per-layer metric is printed
with its unit, that every end-to-end metric is in the record, and that
every Spark job and streaming batch span in the trace belongs to an op
of the run. One untraced run with a planted wrong expected fingerprint
must print every end-to-end metric with its unit and report the planted
key as failed (fail_frac > 0). Exits 1 on the first failed check.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
SF = "0.001"


def run(workload, trace, *extra):
    cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "0", "--trace", str(trace), "--sf", SF, *extra]
    r = subprocess.run(cmd, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        fail(f"{workload}: run failed ({r.returncode}): {r.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["record"]


def fail(msg):
    print(f"FAIL {msg}")
    sys.exit(1)


def check_metrics(workload, result, group):
    want = {m["name"]: m["unit"] for m in SPEC[group]}
    got = result["metrics"]
    if set(got) != set(want):
        fail(f"{workload}: {group} metrics differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}")
    for name, unit in want.items():
        v = got[name]
        if v.get("unit") != unit or not isinstance(v.get("value"), (int, float)):
            fail(f"{workload}: metric {name} printed as {v}, want a number in {unit}")


def check_trace(workload, path):
    spans = [json.loads(l) for l in open(path) if l.strip()]
    ops = {s["op"] for s in spans if s.get("name") == "op"}
    if not ops:
        fail(f"{workload}: trace has no op spans")
    children = [s for s in spans if s.get("name") in ("job", "batch")]
    orphans = [s for s in children if s["op"] not in ops]
    if orphans:
        fail(f"{workload}: {len(orphans)} job/batch spans without an op parent, e.g. {orphans[0]}")
    return len(children)


def main():
    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".bench_run_smoke") as tmp:
        for w in SPEC["workloads"]:
            name = w["name"]
            trace = os.path.join(tmp, f"{name}.jsonl")
            result, rec = run(name, 1, "--trace-out", trace)
            check_metrics(name, result, "per_layer")
            missing = {m["name"] for m in SPEC["end_to_end"]} - set(rec["end_to_end"])
            if missing:
                fail(f"{name}: record lacks end-to-end metrics {missing}")
            if not result["correct"]:
                fail(f"{name}: failures {rec['failures']}")
            n = check_trace(name, trace)
            print(f"ok {name}: {len(result['metrics'])} per-layer metrics, {n} job/batch spans "
                  f"all under an op")
    keyed = next(w["name"] for w in SPEC["workloads"] if w["name"] != "etl_incremental")
    result, rec = run(keyed, 0, "--plant-bad", "sql_tpch_q1")
    check_metrics(keyed, result, "end_to_end")
    if result["correct"] or rec["end_to_end"]["fail_frac"] <= 0 or \
            not any(f.get("key") == "sql_tpch_q1" for f in rec["failures"]):
        fail(f"planted fingerprint for sql_tpch_q1 was not caught: {rec['failures']}")
    print(f"ok {keyed}: planted wrong fingerprint caught, fail_frac {rec['end_to_end']['fail_frac']:.3f}")
    print("smoke PASS")


if __name__ == "__main__":
    main()
