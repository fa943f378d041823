"""One benchmark process: ``prepare`` or ``run``.

Every role first sets up a session the way a CLI user pays for it
(imports, ``get_spark``, one trivial job) and reports that time from its
own process start. ``prepare`` then caches the seed's inputs and oracle
and sets up per-run state; ``run`` executes the workload's closed loop.
``run.py`` starts these processes; run it, not this file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _spark(root: str, nproc: int, work: str):
    sys.path.insert(0, root)
    from datacontract_cli_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{nproc}]",
                     extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})


def _session(root: str, nproc: int, work: str):
    """Imports, get_spark and one trivial job, timed."""
    sys.path.insert(0, root)
    import datacontract_cli_spark  # noqa: F401
    from datacontract_cli_spark.output import writers  # noqa: F401
    from datacontract_cli_spark.sources import iceberg_table  # noqa: F401

    t0 = time.perf_counter()
    spark = _spark(root, nproc, work)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, {"setup_s": _since_process_start(), "get_spark_s": t1 - t0,
                   "first_job_s": t2 - t1}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit, so that no orphaned
    JVM outlives this process."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def _worker_package(spark) -> list:
    """Where Spark's Python workers import the package from."""
    def where(batches):
        import pandas as pd

        import datacontract_cli_spark as pkg
        for _ in batches:
            pass
        yield pd.DataFrame({"path": [os.path.dirname(os.path.abspath(pkg.__file__))]})

    rows = spark.range(0, 2, 1, 2).mapInPandas(where, "path string").collect()
    return sorted({r["path"] for r in rows})


def _run(args, spark, workload, out: dict) -> None:
    import tracing
    from harness import median

    workload.start(spark)
    tracer = store = None
    if args.trace:
        tracer, store = tracing.Tracer(), tracing.SqlStore(spark)
        tracer.install()
    ops, executions = [], []
    loop_start = None
    i = 0
    while True:
        # the cold operation, then whole cycles alternately untraced and traced
        traced = bool(tracer) and (i == 0 or (i - 1) // workload.cycle % 2 == 1)
        if tracer:
            tracer.enabled, tracer.op = traced, i
        w0, t0 = time.time(), time.perf_counter()
        try:
            rows, problems = workload.op(i)
            error = None
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            rows, problems, error = 0, [], f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        w1 = time.time()
        rec = {"i": i, "wall": wall, "rows": rows, "traced": traced,
               "failed": bool(problems or error), "problems": problems[:20],
               "error": error}
        if tracer:
            tracer.enabled = False
            c0 = time.perf_counter()
            if traced:
                execs = store.new_executions()
                executions += [dict(x, op=i) for x in execs]
                rec["layers"] = tracing.op_layers(wall, w0, w1, tracer.of_op(i), execs)
                rec["sql_by_callsite"] = tracing.sql_by_callsite(execs)
            else:
                store.skip()
            rec["collect_s"] = time.perf_counter() - c0
        ops.append(rec)
        i += 1
        now = time.perf_counter()
        if loop_start is None:
            loop_start = cycle_start = now  # the first operation is the cold one
        elif (i - 1) % workload.cycle == 0:
            # Whole cycles only, so every run times the same mix, and the
            # cycle end nearest to --seconds: with a cycle about as long as
            # the window, "the first end past it" would flip between one and
            # two cycles from run to run. A traced run ends on an untraced
            # cycle, after at least three, so that every traced cycle has
            # untraced ones on both sides.
            cycles = (i - 1) // workload.cycle
            if (i >= 3 and now - loop_start + (now - cycle_start) / 2 >= args.seconds
                    and (not tracer or (cycles >= 3 and cycles % 2 == 1))):
                break
            cycle_start = now
    out["ops"] = ops
    out["cycle"] = workload.cycle
    out["worker_package"] = _worker_package(spark)
    out["spark"] = {
        "pyspark": __import__("pyspark").__version__,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "local_dir": spark.conf.get("spark.local.dir"),
        "master": spark.sparkContext.master,
    }
    if tracer:
        tracer.dump(os.path.join(args.work, "spans.jsonl"))
        with open(os.path.join(args.work, "executions.jsonl"), "w") as f:
            f.writelines(json.dumps(x) + "\n" for x in executions)
        out["spans"] = len(tracer.spans)
        out["collect_s"] = median([o["collect_s"] for o in ops])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("prepare", "run"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    if args.role == "prepare":
        from workloads import WORKLOADS

        workload = WORKLOADS[args.workload](args.root, args.cache, args.work, args.seed)
        # inputs only: no timed set-up, no trivial job
        spark, out = (_spark(args.root, args.nproc, args.work)
                      if workload.prepare_with_spark else None), {}
        try:
            workload.prepare(spark)
        finally:
            if spark is not None:
                _stop(spark)
    else:
        # the workload modules are imported after set-up, which they are
        # not part of
        spark, out = _session(args.root, args.nproc, args.work)
        try:
            from workloads import WORKLOADS

            _run(args, spark,
                 WORKLOADS[args.workload](args.root, args.cache, args.work, args.seed), out)
        finally:
            _stop(spark)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
