"""The repository's benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload {tile_upload,analytics_sf1}
        --seed N --seconds S --trace {0,1}

Run from the repository root. It generates (or reuses) the seeded inputs,
then runs the workload in a fresh worker process (``worker.py``) with its
own empty artifact, Spark-local, warehouse and temp dirs under
``.perfbench/runs/``, and deletes them afterwards. It prints a readable
summary and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a separate traced run.
See ``perfbench/README.md`` for the design.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import descendants, proc_table  # noqa: E402

WORKER_TIMEOUT_S = 150  # with generation and cleanup, a run ends within 180 s
INPUTS = {"tile_upload": ("tiles",), "analytics_sf1": ("tables",)}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def become_subreaper() -> None:
    """Make processes orphaned below this one (Spark's Python worker
    daemon, which leaves the worker's process group) children of this
    process, so that ``stop_tree`` can find them and reap them."""
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1) != 0:
        fail(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def leftovers() -> list[int]:
    """Reap this process's exited children, then list the live
    processes still below it."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
    me = os.getpid()
    table = proc_table()
    return [p for p in descendants(me, table) if p != me and table[p][1] != "Z"]


def stop_tree() -> None:
    """After the worker is reaped: SIGTERM what is left below this
    process, SIGKILL what is left 5 s later, and wait until none is
    left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 5
        for pid in leftovers():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while leftovers():
            if time.monotonic() > deadline and sig == signal.SIGTERM:
                break
            time.sleep(0.05)
        else:
            return


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the cleanup below instead of orphaning
    # the worker's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tile_etl_spark", "__init__.py")):
        fail("run from the repository root: tile_etl_spark/ is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    state = os.path.join(root, ".perfbench")
    sys.path.insert(0, root)

    # inputs: the traced run also probes the layers of the other workload
    kinds = sorted({k for ks in INPUTS.values() for k in ks}) if args.trace else INPUTS[args.workload]
    inputs = {k: gen.cached(k, args.seed, state) for k in kinds}

    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(state, "runs", stamp)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("art", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    for d in ("traces", "results"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    slots = max(1, (os.cpu_count() or 2) - 1)
    env = dict(
        os.environ,
        PERFBENCH_ROOT=root,
        # Spark's Python workers unpickle the package's functions
        PYTHONPATH=os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH")))),
        SPARK_GRAFT_ART_DIR=os.path.join(run_dir, "art"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_AQE", "SPARK_GRAFT_CPUS"):
        env.pop(k, None)
    result_path = os.path.join(state, "results", stamp + ".json")
    if os.path.exists(result_path):
        os.remove(result_path)
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "slots": slots,
        "inputs": inputs,
        "result": result_path,
        "trace_out": os.path.join(state, "traces", stamp + ".json"),
    }
    log_path = os.path.join(run_dir, "worker.log")
    try:
        with open(log_path, "w") as log:
            # the worker's cwd is the run dir, so spark-warehouse lands there
            spec["t_spawn"] = time.time()
            worker = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = worker.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if worker.poll() is None:  # timed out, or run.py was stopped
                    os.killpg(worker.pid, signal.SIGKILL)
                    worker.wait()
                stop_tree()
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            fail(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    names = [m["name"] for m in listed]
    units = {m["name"]: m["unit"] for m in listed}
    values = res["per_layer"] if args.trace else res["end_to_end"]
    if not args.trace:
        # every end-to-end metric by name and unit, fail_share too
        units["fail_share"] = "1"
        for name, v in values.items():
            print(f"{args.workload} {name} = {v:.6g} {units[name]}")
        print(f"{args.workload} timed ops = {res['n_timed']}")
    for err in res["errors"]:
        print(f"{args.workload} FAILED {err}")
    missing = [n for n in names if n not in values]
    if missing:
        fail(f"worker did not report {missing}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
