#!/usr/bin/env python3
"""Self-test of the benchmark harness at a small scale factor.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs the harness at sf 0.001
for one second, untraced and traced, and checks that the last line
holds every end-to-end (untraced) or per-layer (traced) metric with the
unit BENCHMARK.json gives, and that every oracle check passed. It then
runs once with one query's oracle made wrong and checks that `ok_frac`
drops below 1, and once from a directory holding only BENCHMARK.json
and the benchmark's files, where the harness must fail without a result.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.001
TIMEOUT_S = 300


def _harness(workload: str, trace: int, cwd: str = HERE,
             corrupt_oracle: str | None = None) -> subprocess.CompletedProcess:
    code = (
        "import sys, run; sys.exit(run.main(sys.argv[1:], "
        f"sf={SF!r}, corrupt_oracle={corrupt_oracle!r}))"
    )
    return subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT_S,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"harness exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, spec: list[dict], label: str) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errors = []
    if got != want:
        errors.append(f"{label}: metrics/units {got} != {want}")
    for name, m in result["metrics"].items():
        if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]:
            errors.append(f"{label}: {name} value {m['value']!r} is not a number")
    return errors


def main() -> int:
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors: list[str] = []
    workloads = [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            r = _result(_harness(w, trace))
            label = f"{w} trace={trace}"
            errors += _check_metrics(r, spec, label)
            if not r["correct"] or r["failed"]:
                errors.append(f"{label}: correct={r['correct']} failed={r['failed']}")
            if trace == 0 and r["metrics"]["ok_frac"]["value"] != 1.0:
                errors.append(f"{label}: ok_frac {r['metrics']['ok_frac']['value']} != 1")
            print(f"ok? {not errors}: {label}", flush=True)

    victim = run.WORKLOADS[workloads[0]].queries[0]
    r = _result(_harness(workloads[0], 0, corrupt_oracle=victim))
    if r["correct"] or r["failed"] < 1 or r["metrics"]["ok_frac"]["value"] >= 1.0:
        errors.append(f"wrong oracle for {victim} not detected: {r}")
    print(f"ok? {not errors}: wrong oracle for {victim}", flush=True)

    bare = tempfile.mkdtemp(prefix="selftest-bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, *bench["command"][1:], "--workload", workloads[0],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=TIMEOUT_S,
        )
        if proc.returncode == 0 or proc.stdout.strip():
            errors.append(f"bare checkout: exit {proc.returncode}, stdout {proc.stdout[-500:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"ok? {not errors}: bare checkout fails", flush=True)

    for e in errors:
        print("FAIL", e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
