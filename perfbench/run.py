"""Contract-test benchmark for datacontract_cli_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads: transcripts-batch and
catalog-ci (see workloads.py and LAYERS.md). Up to two processes
run one after another, each with its own Spark session:

1. ``prepare``, only when the seed's inputs are not cached yet: generates
   them and their DuckDB oracle under perfbench/.cache;
2. ``run``: sets up a session the way a CLI user does (``setup_s``, from
   its process start), then the closed loop, one client on local[nproc]:
   a cold operation, then operations back to back for S seconds, every
   verdict checked against the oracle.

This process samples the RSS of the measured process tree (driver, JVM,
Python workers) from outside. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a report with percentiles, sample counts, failing checks and the
environment. Scratch files go to perfbench/.work, inputs to
perfbench/.cache; nothing is written outside the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
from harness import median, neighbour_ratios, tail_percentile  # noqa: E402

WORKLOADS = ("transcripts-batch", "catalog-ci")
DRIVER_MEMORY = "2g"  # the session's 16g default is more than a 15 GB box has
DEADLINE_S = 170.0

END_TO_END_UNITS = {"setup_s": "s", "cold_op_s": "s", "op_p50_s": "s", "op_tail_s": "s",
                    "rows_per_s": "rows/s", "ok_op_ratio": "ratio", "peak_rss_mb": "MiB"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _cpu_ticks():
    """(iowait, steal, total) CPU ticks of the machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[4], ticks[7], sum(ticks)


def _calibrate() -> float:
    """Seconds a fixed pure-Python loop takes: a gauge of how fast the
    machine runs at the moment, for reading outliers."""
    t = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return time.perf_counter() - t


def _processes():
    """(pid, ppid, process group, state) of every process."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            yield int(entry), int(fields[1]), int(fields[2]), fields[0]
        except (OSError, ValueError, IndexError):
            continue


def _tree(pid: int):
    children = {}
    for p, ppid, _, _ in _processes():
        children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _running(pgid: int):
    """Members of a process group that have not ended (zombies have)."""
    return [p for p, _, g, state in _processes() if g == pgid and state != "Z"]


def _rss(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, pid: int, every: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.every, self.peak = pid, every, 0
        self.halt = threading.Event()

    def run(self):
        while not self.halt.is_set():
            self.peak = max(self.peak, _rss(_tree(self.pid)))
            self.halt.wait(self.every)


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the child's process group and wait until
    each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if proc.poll() is None or _running(proc.pid):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        for _ in range(100):
            if proc.poll() is not None and not _running(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def child(role: str, args, env, work: str, deadline: float, rss: bool = False):
    out = os.path.join(work, f"{role}.json")
    log = os.path.join(work, f"{role}.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--role", role,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", ROOT, "--cache", os.path.join(HERE, ".cache"), "--work", work,
           "--nproc", str(args.nproc), "--out", out]
    t0 = time.monotonic()
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid) if rss else None
        if sampler:
            sampler.start()
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if sampler:
                sampler.halt.set()
                sampler.join()
            _stop_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"{role} process {'timed out' if code is None else f'exited {code}'}"
                           f":\n{tail}")
    with open(out) as f:
        result = json.load(f)
    result["wall_s"] = time.monotonic() - t0
    if sampler:
        result["peak_rss"] = sampler.peak
    return result


def end_to_end(ops, setup_s, peak_rss):
    warm = ops[1:]
    walls = [o["wall"] for o in warm]
    pct, tail, n = tail_percentile(walls)
    metrics = {
        "setup_s": setup_s,
        "cold_op_s": ops[0]["wall"],
        "op_p50_s": median(walls),
        "op_tail_s": tail,
        "rows_per_s": sum(o["rows"] for o in warm) / sum(walls),
        "ok_op_ratio": sum(not o["failed"] for o in ops) / len(ops),
        "peak_rss_mb": peak_rss / float(1 << 20),
    }
    return metrics, {"op_tail_percentile": round(pct, 1), "warm_ops": n}


def per_layer(ops, run):
    traced = [o for o in ops[1:] if o["traced"] and "layers" in o]
    untraced = [o["wall"] for o in ops[1:] if not o["traced"]]
    cold = ops[0].get("layers", {})
    names = sorted(traced[0]["layers"]) if traced else sorted(cold)
    metrics = {n: median([o["layers"][n] for o in traced]) if traced else cold.get(n, 0.0)
               for n in names}
    metrics["session.get_spark_s"] = run["get_spark_s"]
    metrics["session.first_job_s"] = run["first_job_s"]
    for n in ("engine.sql_busy_s", "engine.driver_gap_s", "engine.sql_executions"):
        metrics[n.replace("engine.", "engine.cold_")] = cold.get(n, 0.0)
    metrics["operators.cold_python_worker_start_s"] = cold.get(
        "operators.python_worker_start_s", 0.0)
    cycles = [0.0] * ((len(ops) - 1) // run["cycle"])
    for o in ops[1:len(cycles) * run["cycle"] + 1]:
        cycles[(o["i"] - 1) // run["cycle"]] += o["wall"]
    ratios = neighbour_ratios(cycles)
    metrics["trace.overhead_ratio"] = median(ratios) if ratios else 1.0
    metrics["trace.collect_s"] = run.get("collect_s", 0.0)
    metrics["trace.spans"] = float(run.get("spans", 0))
    callsites = sorted({k for o in traced for k in o["sql_by_callsite"]})
    by_callsite = {k: median([o["sql_by_callsite"].get(k, 0.0) for o in traced])
                   for k in callsites}
    return metrics, {"traced_ops": len(traced), "untraced_ops": len(untraced),
                     "sql_s_by_callsite": by_callsite}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops its process groups (child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    deadline = started + DEADLINE_S

    for need in ("datacontract_cli_spark/__init__.py", "tests/fixtures/transcripts_contract.yaml"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout",
                  file=sys.stderr)
            return 2

    args.nproc = len(os.sched_getaffinity(0))
    cache = os.path.join(HERE, ".cache")
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(args.nproc),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    load_start, ticks_start, calib_start = os.getloadavg(), _cpu_ticks(), _calibrate()
    generated = not data.is_cached(
        os.path.join(cache, args.workload, f"seed-{args.seed}"), args.seed)
    try:
        if generated:
            child("prepare", args, env, work, deadline)
        run = child("run", args, env, work, deadline, rss=True)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    load_end, ticks_end, calib_end = os.getloadavg(), _cpu_ticks(), _calibrate()

    ops = run["ops"]
    want_pkg = os.path.join(ROOT, "datacontract_cli_spark")
    failed = sum(o["failed"] for o in ops)
    correct = failed == 0 and run["worker_package"] == [want_pkg]
    if args.trace:
        metrics, extra = per_layer(ops, run)
        units = {n: layer_unit(n) for n in metrics}
    else:
        metrics, extra = end_to_end(ops, run["setup_s"], run["peak_rss"])
        units = END_TO_END_UNITS
    report = dict(extra, workload=args.workload, seed=args.seed, trace=args.trace,
                  failed_op_ratio=failed / len(ops),
                  op_walls_s=[round(o["wall"], 3) for o in ops],

                  failing=[{"op": o["i"], "error": o["error"], "problems": o["problems"]}
                           for o in ops if o["failed"]][:5],
                  worker_package=run["worker_package"], nproc=args.nproc,
                  loadavg_start=load_start, loadavg_end=load_end,
                  cpu_iowait_share=(ticks_end[0] - ticks_start[0])
                  / max(ticks_end[2] - ticks_start[2], 1),
                  cpu_steal_share=(ticks_end[1] - ticks_start[1])
                  / max(ticks_end[2] - ticks_start[2], 1),
                  calibration_s=[round(calib_start, 3), round(calib_end, 3)],
                  data_generated=generated, wall_s=time.monotonic() - started,
                  run_process_wall_s=run["wall_s"],
                  **run["spark"])
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {n: {"value": v, "unit": units[n]}
                                  for n, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
