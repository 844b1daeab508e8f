"""Smoke self-test of the benchmark.

Runs one traced pass of every workload at scale 0.001 (``run.py
--smoke --trace 1``, which also runs the untraced pass it compares
against) and checks that:

- the last line is the result object with exactly its four keys, the
  run is correct and ``failed`` is 0;
- every ``per_layer`` metric of BENCHMARK.json is in the result, and
  every ``end_to_end`` metric is in the untraced pass's result and is
  printed by name with its unit.

Usage: python3 perfbench/selftest.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def check(workload: str, spec: dict) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return [f"exit code {out.returncode}, {len(lines)} lines of output"]
    errors = []
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"correct={res.get('correct')} failed={res.get('failed')} "
                      f"attempted={res.get('attempted')}")
    for m in spec["per_layer"]:
        if m["name"] not in res["metrics"]:
            errors.append(f"per-layer metric {m['name']} missing")
    untraced = next((json.loads(line.split(") ", 1)[1]) for line in lines
                     if line.startswith("# untraced (")), None)
    printed = {line.split(" ")[0]: line.split(" ")[2] for line in lines
               if len(line.split(" ")) == 3}
    for m in spec["end_to_end"]:
        if untraced is None or m["name"] not in untraced:
            errors.append(f"end-to-end metric {m['name']} missing from the untraced pass")
        if printed.get(m["name"]) != m["unit"]:
            errors.append(f"end-to-end metric {m['name']} not printed with unit {m['unit']}")
    if "failed_frac 0 ratio" not in out.stdout:
        errors.append("failed_frac is not 0")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or list(WORKLOADS)
    bad = 0
    for name in names:
        errors = check(name, spec)
        bad += bool(errors)
        print(f"{'FAIL' if errors else 'ok  '} {name}" + "".join(f"\n     {e}" for e in errors),
              flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
