"""Smoke-scale self-check of the benchmark's output contract.

    python3 perfbench/selfcheck.py

For every workload in BENCHMARK.json, runs the benchmark on tiny inputs
with --trace 0 and --trace 1 and checks that the last stdout line holds
exactly correct/attempted/failed/metrics, that the run is correct, and that
every end-to-end (or per-layer) metric appears with its declared unit and a
numeric value. Then runs it from a directory holding only BENCHMARK.json
and perfbench/, where it must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "4", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(spec: dict, workload: str, trace: int) -> list[str]:
    p = _run(ROOT, workload, trace)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"{workload}/trace{trace}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    res = json.loads(lines[-1])
    bad = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        bad.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        bad.append(f"not correct: {lines[-2] if len(lines) > 1 else ''}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        bad.append(f"attempted {res.get('attempted')!r}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res.get("metrics", {})
    if set(got) != set(want):
        bad.append(f"metric names: missing {sorted(set(want) - set(got))}, "
                   f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            bad.append(f"{name}: unit {m.get('unit')!r}, declared {unit!r}")
        if not isinstance(m.get("value"), (int, float)):
            bad.append(f"{name}: value {m.get('value')!r}")
        elif not trace and m["value"] == 0:
            bad.append(f"{name}: end-to-end value is 0")
    return [f"{workload}/trace{trace}: {b}" for b in bad]


def check_bare(spec: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's own files: must fail."""
    bare = os.path.join(ROOT, ".perfbench_scratch", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    out = p.stdout.strip()
    if p.returncode == 0 or out:
        return [f"bare checkout: exit {p.returncode}, stdout {out[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = check_bare(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems += check_result(spec, w["name"], trace)
    for p in problems:
        print(p)
    print("self-check:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
