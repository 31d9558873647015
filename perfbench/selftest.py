"""Fast self-test of the benchmark: every metric named in BENCHMARK.json
is emitted, outputs check, the traced self times add up, and the
benchmark refuses to run without the engine beside it.

    python3 perfbench/selftest.py

Runs each workload once untraced and once traced with ``--quick``
(tiny seeded inputs, one measured pass); takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )


def main() -> None:
    from workload import SELF_TIME_LAYERS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems: list[str] = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(["--workload", wl, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--quick"], ROOT)
            label = f"{wl} trace={trace}"
            before = len(problems)
            if p.returncode != 0:
                problems.append(f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}")
                print(f"{label}: exit {p.returncode}", flush=True)
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{label}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']}")
            names = [m["name"] for m in spec[key]]
            if sorted(out["metrics"]) != sorted(names):
                problems.append(f"{label}: metrics {sorted(set(names) ^ set(out['metrics']))} differ")
            if trace:
                m = {k: v["value"] for k, v in out["metrics"].items()}
                parts = sum(m[k] for k in SELF_TIME_LAYERS)
                if abs(parts - m["trace.wall_s"]) > 0.01 * m["trace.wall_s"]:
                    problems.append(f"{label}: self times sum to {parts:.3f}s, wall {m['trace.wall_s']:.3f}s")
            print(f"{label}: " + ("ok" if len(problems) == before else "; ".join(problems[before:])[:300]), flush=True)

    # with only BENCHMARK.json and perfbench/ present it must refuse
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
        if p.returncode == 0 or p.stdout.strip():
            problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
        else:
            print("bare directory: refused", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    if problems:
        sys.exit("self-test failed:\n" + "\n".join(problems))
    print("self-test passed")


if __name__ == "__main__":
    main()
