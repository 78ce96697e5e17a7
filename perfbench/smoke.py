"""Smoke test of the benchmark: a tiny-input run of every workload, untraced
and traced. Run from the repository root:

    python3 perfbench/smoke.py

It asserts that every metric BENCHMARK.json names is emitted with its unit,
that every output check passes and no op fails, and that the run record and
span file carry what the benchmark documents. Exits non-zero on any failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open("BENCHMARK.json"))
RECORD_KEYS = ("env", "inputs", "setup_s_reps", "untraced", "run_failures")
ENV_KEYS = ("git_head", "task_slots", "spark_version", "jvm", "cal_pre_ms", "cal_post_ms")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    lines = res.stdout.strip().splitlines()
    assert res.returncode == 0 and lines, "%s trace %d exited %d:\n%s" % (
        workload, trace, res.returncode, res.stderr[-3000:])
    record_dir = lines[-2].split("record: ", 1)[1]
    return json.loads(lines[-1]), record_dir


def check(workload, trace):
    result, record_dir = run(workload, trace)
    where = "%s trace %d" % (workload, trace)
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], where
    assert result["correct"] is True, "%s: output checks failed (%s)" % (where, record_dir)
    assert result["failed"] == 0 and result["attempted"] >= 1, where
    spec = SPEC["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, "%s: metrics differ: missing %s, extra %s, units %s" % (
        where, sorted(set(want) - set(got)), sorted(set(got) - set(want)),
        sorted(k for k in want if k in got and got[k] != want[k]))
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), "%s: %s is not a number" % (where, k)
    ledger = json.load(open(os.path.join(record_dir, "ledger.json")))
    for k in RECORD_KEYS:
        assert k in ledger, "%s: record lacks %s" % (where, k)
    for k in ENV_KEYS:
        assert k in ledger["env"], "%s: record env lacks %s" % (where, k)
    ff = ledger["untraced"]["failed_frac"]
    assert ff == {"value": 0.0, "unit": "ratio"}, "%s: failed_frac %s" % (where, ff)
    assert ledger["run_failures"] == [], "%s: %s" % (where, ledger["run_failures"])
    if trace:
        assert set(ledger["tracing_overhead"]) == {"rows_per_s", "latency_p50_ms"}, where
        spans = [json.loads(x) for x in open(os.path.join(record_dir, "spans.jsonl"))]
        layers = {s["layer"] for s in spans}
        assert {"op", "spark", "core", "agg", "expr"} <= layers, "%s: span layers %s" % (where, layers)
        ids = {s["id"] for s in spans}
        assert all(s["parent"] == -1 or s["parent"] in ids for s in spans), "%s: orphan span" % where
        assert all(0 <= s["self_us"] <= s["end_us"] - s["start_us"] for s in spans), where
    print("ok  %-16s trace %d  attempted %d" % (workload, trace, result["attempted"]))


def main():
    for w in [w["name"] for w in SPEC["workloads"]]:
        for trace in (0, 1):
            check(w, trace)
    print("smoke: all workloads pass")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print("smoke FAILED: %s" % e, file=sys.stderr)
        sys.exit(1)
