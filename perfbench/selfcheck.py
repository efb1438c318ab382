"""Fast self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload named in ``BENCHMARK.json`` once untraced and once
traced, each with the fewest passes (``--seconds 1``) on the small input
(``--small``), and asserts that each run exits 0, checks every output
correct, and prints every metric ``BENCHMARK.json`` names for its mode,
with its unit and nothing else. Exits 1 on the first failed assertion.
"""

from __future__ import annotations

import json
import subprocess
import sys
from numbers import Real
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0"]
    cmd += ["--seconds", "1", "--trace", str(trace), "--small"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        raise AssertionError(f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{where}: {result['failed']} of {result['attempted']} failed")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(want):
        raise AssertionError(
            f"{where}: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}"
        )
    for name, unit in want.items():
        m = got[name]
        if m.get("unit") != unit or not isinstance(m.get("value"), Real):
            raise AssertionError(f"{where}: {name} printed as {m}, want a number in {unit}")
    print(f"ok   {where}: {len(got)} metrics, {result['attempted']} query executions", flush=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        for w in spec["workloads"]:
            for trace in (0, 1):
                check(w["name"], trace, spec)
    except AssertionError as e:
        print(f"FAIL {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
