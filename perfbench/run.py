"""Repository benchmark: one workload in one fresh process.

    python3 perfbench/run.py --workload api_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a SparkSession on local[nproc] with a fixed heap, stages
the workload and runs one untimed block, and then sends operations in
a closed loop (one client; the next operation is sent when the
previous one returns) in whole blocks: as many as fit --seconds at a
nominal block length per workload, at least three.
Every output is checked against DuckDB after the timed region. The
last stdout line is one JSON object: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics of a separately traced
run. A sidecar with the run record, host-noise probes, per-operation
records and (when traced) the spans lands in perfbench/.work/sidecars/.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

from schedule import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "4g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> dict:
    """Host-dependent settings the engine would otherwise derive from the
    machine (cores, cgroup heap, temp and spill locations), pinned so
    runs are comparable and write only inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    tempfile.tempdir = None  # re-read TMPDIR
    java_opts = f"-Djava.io.tmpdir={tmp}"
    return {"cpus": cpus, **pinned, "spark.driver.extraJavaOptions": java_opts}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine and its digest helper come from the checkout; without
    # them there is nothing to measure, so fail before any work
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import algoritmos_etl_spark  # noqa: F401
        import verify_local  # noqa: F401
    except ImportError as exc:
        log(f"engine not importable from {ROOT}: {exc}")
        return 2

    os.makedirs(os.path.join(WORK, "sidecars"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK)
    cwd = os.getcwd()
    try:
        pinned = pin_environment(run_dir)
        os.chdir(run_dir)  # spark-warehouse and friends land here
        from workloads import run_workload

        result, sidecar = run_workload(args, run_dir, pinned)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "sidecars", name), "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # a crashed run prints no result line
        traceback.print_exc()
        sys.exit(1)
