"""Benchmark of record for fefal_etl_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The command generates the
workload's inputs from the seed, runs the workload in a fresh worker
process (one client, closed loop, Spark ``local[nproc]``), checks every
output, and prints one JSON line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

Every path the run writes (inputs, tables, staging, Spark scratch, the
metastore) lives under ``.perfbench_runs/<run>/`` in the checkout and is
removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import analysis_session, survey_load  # noqa: E402
from perfbench.layers import METRICS as LAYER_METRICS  # noqa: E402
from perfbench.stats import per_call_p50, summarize  # noqa: E402

PREPARE = {
    "survey_load": survey_load.prepare,
    "analysis_session": analysis_session.prepare,
}
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("ok_frac", "frac"),
    ("items_per_s", "1/s"),
    ("first_p50_s", "s"),
]
DRIVER_MEM = "2g"
TIME_LIMIT_S = 170


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it. A short-lived fork of the JVM (Hadoop
    runs shell commands that way) then adds only the pages it owns, where
    resident set sizes would count the whole JVM twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_memory_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and its descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total = 0
    for p in tree:
        try:
            total += _pss_bytes(p)
        except OSError:
            continue  # exited between the listing and the read
    return total


class MemorySampler(threading.Thread):
    """Peak of :func:`_tree_memory_bytes`, sampled four times a second.

    A level counts only when two samples in a row reach it. The JVM starts
    its helper commands with ``posix_spawn``, whose child shares the JVM's
    memory until it execs; a sample that lands in that window sees the
    JVM twice."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._stop_evt = pid, 0, threading.Event()

    def run(self) -> None:
        prev = 0
        while not self._stop_evt.wait(0.25):
            cur = _tree_memory_bytes(self.pid)
            self.peak = max(self.peak, min(prev, cur))
            prev = cur

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _pgroup_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _reap_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group (the JVM) and
    wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    t_end = time.time() + 15
    while _pgroup_alive(pgid) and time.time() < t_end:
        time.sleep(0.1)


def run_worker(args, run_dir: str, t_budget: float) -> tuple[dict, int]:
    """Start the worker in its own process group; return its result and
    the peak memory of its process tree."""
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    for k in ("SPARK_MASTER", "FEFAL_TABLE_BACKEND", "SPARK_GRAFT_SF_DIR"):
        env.pop(k, None)
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        FEFAL_STAGE_DIR=os.path.join(run_dir, "stage"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=os.path.join(run_dir, "tmp"),
        # set iteration order, and so any plan built from it, repeats
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--result", result_path,
    ]
    if args.smoke:
        cmd.append("--smoke")
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        sampler = MemorySampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(t_budget, 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.stop()
            _reap_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"worker {why}; log tail:\n{tail}")
    with open(result_path) as f:
        return json.load(f), sampler.peak


def end_to_end(res: dict, peak_mem: int) -> dict[str, float]:
    first = res["first"]
    return {
        "setup_s": res["setup_s"],
        "peak_rss_mb": peak_mem / 2**20,
        "ok_frac": 1.0 - res["failed"] / res["attempted"],
        "items_per_s": res["items"] / res["items_s"],
        "first_p50_s": per_call_p50(first),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PREPARE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (tests)")
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "fefal_etl_spark", "__init__.py")):
        print(f"no fefal_etl_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(os.path.join(run_dir, "inputs"))
    try:
        PREPARE[args.workload](os.path.join(run_dir, "inputs"), args.seed, args.smoke)
        budget = TIME_LIMIT_S - (time.time() - t_start)
        res, peak = run_worker(args, run_dir, budget)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(
                res["trace_file"],
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            )
    except RuntimeError as exc:
        print(exc, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        units = dict(LAYER_METRICS)
        values = res["layers"]
    else:
        units = dict(END_TO_END)
        values = end_to_end(res, peak)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "first": summarize([x for v in res["first"].values() for x in v]),
        "repeat": summarize([x for v in res["repeat"].values() for x in v]),
        "repeat_per_call_p50": per_call_p50(res["repeat"]) if res["repeat"] else None,
        "items": res["items"],
        "items_s": res["items_s"],
        "workload_s": res["wall_s"],
        "run_s": time.time() - t_start,
        "counters": res["counters"],
        "errors": res["errors"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": values[m], "unit": units[m]} for m in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
