"""Benchmark entry point.

    python3 perfbench/run.py --workload {llm_corpus,table_rw} --seed N \
        --seconds S --trace {0,1} [--quick]

Run from the repository root. Generates the workload's inputs from the
seed, pins the environment (``local[k]`` with ``k = min(4, nproc)``, a
2 GB driver heap, ``PYTHONPATH`` for the Python workers, every Spark
scratch, warehouse and temp directory inside ``.perfbench_work/``),
runs the workload in one driver process (``workload.py``) and prints as
its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.
Everything it starts is stopped and its work directory removed before
it exits. ``--quick`` shrinks inputs and passes for the self-test.

Exits 2 without a result when the engine package is not beside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "unity_to_bigquery_spark/__init__.py",
    "tools/perf_probe.py",
    "tests/oracle_compare.py",
    "BENCHMARK.json",
)
WORKLOADS = {
    # documents / embeddings / events rows, minimum measured passes
    "llm_corpus": {"docs": 600, "vecs": 600, "events": 1000, "min_passes": 3},
    "table_rw": {"docs": 10, "vecs": 10, "events": 20000, "min_passes": 2},
}
QUICK = {"docs": 60, "vecs": 60, "events": 2000, "min_passes": 1}
DRIVER_MEM = "2g"
YOUNG_MEM = "600m"
TIMEOUT_S = 170.0


def fail(msg: str, code: int = 2) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate the child's process group (driver, JVM, Python
    workers) and wait until every member has exited."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is None:
                time.sleep(0.1)
                continue
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true")
    args = ap.parse_args()
    t_start = time.monotonic()
    # a terminated run still stops its workload and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the engine: missing {', '.join(missing)}")
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, HERE)
    import datagen

    size = dict(WORKLOADS[args.workload], **(QUICK if args.quick else {}))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("data", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        datagen.write_tables(dirs["data"], args.seed, size["docs"], size["vecs"], size["events"])
        cpus = max(1, min(4, len(os.sched_getaffinity(0))))
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "cpus": cpus,
            "min_passes": size["min_passes"],
            "driver_mem": DRIVER_MEM,
            "young_mem": YOUNG_MEM,
            "quick": args.quick,
            "data_dir": dirs["data"],
            "work_dir": work,
            "tmp_dir": dirs["tmp"],
            "result_path": os.path.join(work, "result.json"),
        }
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        env = {
            k: v
            for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_") and k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")
        }
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=dirs["local"],
            # the spark-submit launcher JVM would write hsperfdata to /tmp
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            TMPDIR=dirs["tmp"],
            PYTHONHASHSEED="0",
        )
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"), cfg_path],
            cwd=work,
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            fail("workload timed out", 1)
        finally:
            stop_group(proc)
        if proc.returncode != 0:
            fail(f"workload process exited with {proc.returncode}", 1)
        with open(cfg["result_path"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} not measured ({v}); result: {json.dumps(res)}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    sys.stderr.write(
        f"perfbench: {args.workload} seed={args.seed} passes={res['passes']} "
        f"reads={res['read_samples']} commits={res['commit_samples']} mismatches={res['mismatches']}\n"
    )
    print(
        json.dumps(
            {
                "correct": not res["mismatches"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
