#!/usr/bin/env python3
"""Smoke self-test of the benchmark: runs one workload untraced and
traced, and asserts that the last stdout line is the result object and
that it prints every BENCHMARK.json metric by name with its unit.

    python3 perfbench/selftest.py [workload]     # default f1_medallion

Run from the root of a graft checkout; takes about two runs' time.
"""
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def check_spec(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    names = [w["name"] for w in spec["workloads"]] + \
        [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names)), "a name is used twice"
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) <= 0.25


def run(workload, trace):
    p = subprocess.run([*json.loads((ROOT / "BENCHMARK.json").read_text())["command"],
                        "--workload", workload, "--seed", "1", "--seconds", "1",
                        "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_spec(spec)
    workload = sys.argv[1] if len(sys.argv) > 1 else "f1_medallion"
    assert workload in {w["name"] for w in spec["workloads"]}, workload
    for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        res = run(workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, sorted(res)
        assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"], res
        got = res["metrics"]
        assert set(got) == {m["name"] for m in declared}, \
            sorted(set(got) ^ {m["name"] for m in declared})
        for m in declared:
            v = got[m["name"]]
            assert v["unit"] == m["unit"], (m["name"], v)
            assert isinstance(v["value"], (int, float)), (m["name"], v)
            if not trace:
                assert v["value"] > 0, (m["name"], v)
        print(f"ok   {workload} trace={trace}: {len(got)} metrics, "
              f"{res['attempted']} ops")


if __name__ == "__main__":
    main()
