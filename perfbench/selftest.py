#!/usr/bin/env python3
"""Self-test of the benchmark's output contract, on real runs.

    python3 perfbench/selftest.py [workload]

Runs perfbench/run.py once untraced and once traced (short runs, seed 1)
and checks that the last stdout line of each parses on its own as one JSON
object with exactly the keys correct/attempted/failed/metrics, and that the
metrics are exactly BENCHMARK.json's end-to-end (untraced) or per-layer
(traced) ones, with their units. This is the guard against a summary line
wrapped by a build tool (`[info] {...}` followed by `[success]`), which no
JSON parser reads. Exits 0 when every check holds.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload, trace, spec):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        return [f"run.py exited {r.returncode}: {r.stderr.strip()[-500:]}"]
    last = r.stdout.rstrip("\n").split("\n")[-1]
    try:
        out = json.loads(last)
    except json.JSONDecodeError as e:
        return [f"last stdout line is not one JSON object ({e}): {last[:200]!r}"]
    errors = []
    if not isinstance(out, dict) or set(out) != {"correct", "attempted", "failed", "metrics"}:
        return [f"keys are {sorted(out) if isinstance(out, dict) else type(out)}"]
    if not isinstance(out["correct"], bool):
        errors.append("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(out[k], int) or isinstance(out[k], bool) or out[k] < 0:
            errors.append(f"{k} is not a whole number")
    if out["attempted"] < 1:
        errors.append("attempted < 1")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = out["metrics"]
    if set(got) != set(want):
        errors.append(f"metric names differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if set(m) != {"value", "unit"} or m.get("unit") != want.get(name):
            errors.append(f"{name}: {m}")
        elif not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            errors.append(f"{name}: value {m['value']!r} is not a finite number")
    for name in want:
        if not trace and name in got and got[name]["value"] <= 0:
            errors.append(f"{name}: end-to-end metric is not positive")
    if not out["correct"]:
        errors.append("correct is false: " + " | ".join(
            l for l in r.stdout.splitlines() if l.startswith("FAILED")))
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workload = sys.argv[1] if len(sys.argv) > 1 else spec["workloads"][0]["name"]
    failed = False
    for trace in (0, 1):
        errors = check(workload, trace, spec)
        print(f"{workload} --trace {trace}: " + ("ok" if not errors else "; ".join(errors)))
        failed |= bool(errors)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
