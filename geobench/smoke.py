"""Smoke check of the benchmark itself.

    python3 geobench/smoke.py

Checks that BENCHMARK.json names exactly the workloads and metrics the
harness defines, then runs every workload at its tiny size, untraced
and traced, and requires each run to pass its output checks and to end
with a parseable record that carries every metric of its mode.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from harness import ROOT
from metrics import END_TO_END, LAYERS
from workloads import WORKLOADS


def need(ok: bool, what) -> None:
    if not ok:
        raise SystemExit(f"smoke: {what}")


def check_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    whys = {w["name"]: w["why"] for w in spec["workloads"]}
    need(whys == {n: w.why for n, w in WORKLOADS.items()}, f"workloads {whys}")
    e2e = [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
    need(e2e == [m[:3] for m in END_TO_END], f"end_to_end {e2e}")
    layers = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    need(layers == [m[:3] for m in LAYERS], f"per_layer {layers}")
    return spec


def run_one(spec: dict, workload: str, trace: int) -> None:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    record = json.loads(out.stdout.strip().splitlines()[-1])
    need(set(record) == {"correct", "attempted", "failed", "metrics"}, record)
    need(record["correct"] and record["failed"] == 0, record)
    want = spec["per_layer" if trace else "end_to_end"]
    got = record["metrics"]
    need(set(got) == {m["name"] for m in want}, sorted(got))
    for m in want:
        need(got[m["name"]]["unit"] == m["unit"], m)
        need(isinstance(got[m["name"]]["value"], (int, float)), m)
    print(f"ok  {workload} trace={trace} attempted={record['attempted']}")


def main() -> None:
    spec = check_spec()
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            run_one(spec, workload, trace)


if __name__ == "__main__":
    main()
