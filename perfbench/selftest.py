"""Self-test of the benchmark.

    python3 -m perfbench.selftest

Checks that every workload and metric name in ``BENCHMARK.json`` matches
the benchmark's name rule and every unit its unit rule, that the
workloads and per-layer metrics it declares are the ones ``perfbench``
runs and maps to layers, and that a tiny-seed run of each workload,
untraced and traced, passes the correctness gate and prints every declared
metric with its unit.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def check_names() -> list[str]:
    from perfbench import workloads

    errors = []
    declared = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [w["name"] for w in SPEC["workloads"]] + [m["name"] for m in declared]
    for n in names:
        if not NAME.fullmatch(n):
            errors.append(f"bad name {n!r}")
    if len(set(names)) != len(names):
        errors.append("a name is used twice")
    for m in declared:
        if not UNIT.fullmatch(m["unit"]):
            errors.append(f"bad unit {m['unit']!r} for {m['name']}")
    if [w["name"] for w in SPEC["workloads"]] != list(workloads.WORKLOADS):
        errors.append("BENCHMARK.json workloads differ from perfbench.workloads")
    if [m["name"] for m in SPEC["per_layer"]] != [m[0] for m in metrics.PER_LAYER]:
        errors.append("BENCHMARK.json per-layer metrics differ from the "
                      "perfbench.metrics layer table")
    return errors


def run_tiny(workload: str, trace: int, seed: int = 7) -> list[str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace",
           str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"{tag}: result keys {sorted(res)}")
    if res.get("correct") is not True:
        errors.append(f"{tag}: correctness gate failed: {p.stderr[-2000:]}")
    declared = SPEC["per_layer" if trace else "end_to_end"]
    for d in declared:
        name, unit = d["name"], d["unit"]
        m = res["metrics"].get(name)
        if m is None or m.get("unit") != unit or not isinstance(m.get("value"), float):
            errors.append(f"{tag}: metric {name} missing or without unit {unit}")
    if len(res["metrics"]) != len(declared):
        errors.append(f"{tag}: {len(res['metrics'])} metrics, want {len(declared)}")
    return errors


def main() -> int:
    errors = check_names()
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            errs = run_tiny(w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs
    for e in errors:
        print("ERROR:", e)
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
