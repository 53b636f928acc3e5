#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-size run of every workload, untraced
and traced, asserting that each run is correct and prints every metric
``BENCHMARK.json`` names, with its unit.

    python3 perfbench/selftest.py            # all workloads, about 4 minutes
    python3 perfbench/selftest.py xml-docs   # one workload

Run from the repository root.
"""

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(bench: dict, workload: str, trace: int) -> None:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", "0", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True, result
    assert result["failed"] == 0 and result["attempted"] >= 1, result
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in bench[kind]}
    got = result["metrics"]
    assert set(got) == set(want), set(got) ^ set(want)
    for name, m in got.items():
        assert m["unit"] == want[name], (name, m)
        v = m["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v), (name, m)
        assert v >= 0, (name, m)
        if not trace:
            assert v > 0, (name, m)
    print(f"ok  {workload:18s} trace={trace}  {len(got)} metrics")


def main(argv) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = argv or [w["name"] for w in bench["workloads"]]
    for workload in names:
        for trace in (0, 1):
            check_run(bench, workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
