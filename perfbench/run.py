"""Benchmark entry point.

    python3 perfbench/run.py --workload reconcile_batch --seed 1 --seconds 20 --trace 0

Runs one workload in one process on ``local[<cores>]``: set-up (session
start, input generation, expected outputs), then a closed loop of passes
for ``--seconds`` (at least one pass), each output-checked. The last
stdout line is the result JSON; with ``--trace 1`` it carries the
per-layer metrics of one traced pass instead of the end-to-end ones.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up is repeated this many times per run and reported as the median
SETUP_REPS = 3


def host_sizing() -> dict:
    """Cores from the affinity mask; driver heap an eighth of RAM, within
    1-3 GiB (the inputs are small and the box is shared)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = min(3072, max(1024, mem_kb // 1024 // 8))
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, "driver_mem": f"{heap_mb}m"}


class Ctx:
    def __init__(self, args, host, work):
        self.seed, self.scale, self.cpus = args.seed, args.scale, host["cpus"]
        self.work = work
        self.spark = None


def start_session(ctx, host):
    """The program's own session factory, sized for this host, with the
    status store kept whole and every scratch path inside the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(ctx.work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["cpus"]),
        SPARK_GRAFT_DRIVER_MEM=host["driver_mem"],
        # Python workers import recon_spark (mapInPandas stages)
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(ctx.work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(ctx.work, "spark-local"),
        # every JVM, the launcher's too: no hsperfdata file in the system /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from recon_spark.session import get_spark

    ctx.spark = get_spark(
        "perfbench",
        cpus=host["cpus"],
        extra_conf={
            "spark.driver.memory": host["driver_mem"],
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}/tmp",
            "spark.executorEnv.PYTHONPATH": ROOT,
        },
    )


def stop_session(ctx):
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    if ctx.spark is not None:
        ctx.spark.stop()
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "recon_spark")):
        raise SystemExit(f"perfbench: no recon_spark package next to {HERE}")
    sys.path.insert(0, ROOT)
    from perfbench import probes
    from perfbench.workloads import WORKLOADS, drop_cached

    t_start = time.perf_counter()
    host = host_sizing()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ctx = Ctx(args, host, work)
    wl = WORKLOADS[args.workload](ctx)
    if args.scale is None:
        ctx.scale = args.scale = wl.default_scale
    info = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "host": host, "worker_pythonpath": ROOT,
    }
    try:
        start_session(ctx, host)
        probe = probes.SparkProbe(ctx.spark)
        session_s = time.perf_counter() - t_start
        gen_s = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate(os.path.join(work, f"input{i}"))
            gen_s.append(time.perf_counter() - t0)
        setup_s = session_s + median(gen_s)
        wl.prepare_check()  # expected outputs: the benchmark's work, not set-up
        info.update(input_rows=wl.input_rows, session_s=session_s, generate_s=gen_s)
        if args.plant:
            plant(args.plant)

        attempted = failed = 0
        errors = []
        if args.trace:
            metrics = traced_pass(wl, probe, ctx.cpus, args)
            attempted, err = 1, wl.check()
            failed = int(err is not None)
            errors += [err] if err else []
        else:
            walls, parts, cpus, dropped = [], [], [], []
            with probes.Peak(probes.tree_rss_reader(), interval_s=0.025) as rss:
                t_loop = time.perf_counter()
                while attempted == 0 or time.perf_counter() - t_loop < args.seconds:
                    attempted += 1
                    cpu0, t0 = probes.tree_cpu_s(), time.perf_counter()
                    try:
                        parts.append(wl.run_pass())
                        walls.append(time.perf_counter() - t0)
                        cpus.append(probes.tree_cpu_s() - cpu0)
                        err = wl.check()
                    except Exception as exc:  # noqa: BLE001 - a failed pass is counted
                        traceback.print_exc()
                        err = f"{type(exc).__name__}: {exc}"
                    dropped.append(drop_cached(probe))
                    if err:
                        failed += 1
                        errors.append(err)
                peak = rss.peak
            batch_s = median(walls)
            metrics = {
                "setup_s": (setup_s, "s"),
                "batch_s": (batch_s, "s"),
                "rows_per_s": (wl.input_rows / batch_s if batch_s else 0.0, "1/s"),
                "cpu_s": (median(cpus), "s"),
                "peak_rss_mb": (peak, "MB"),
            }
            info.update(
                passes=attempted, pass_s=walls, pass_parts_s=parts, cached_frames_dropped=dropped
            )
        info.update(errors=errors, digest=getattr(wl, "digest", None))
        if getattr(wl, "expected_counts", None):
            info["expected_corrections"] = wl.expected_counts
    finally:
        with contextlib.suppress(Exception):
            stop_session(ctx)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def plant(kind: str):
    """Self-test faults, planted from the benchmark side into the
    correction builder: an extra shuffle, or one wrong output row."""
    from recon_spark.plans import corrections

    orig = corrections.build_correction_df

    def with_fault(matches, *a, **kw):
        if kind == "shuffle":  # below the builder's own sort, so it is kept
            return orig(matches.repartition(7), *a, **kw)
        from pyspark.sql import functions as F

        df = orig(matches, *a, **kw)
        return df.unionByName(df.limit(1).withColumn("Reason", F.lit("planted")))

    corrections.build_correction_df = with_fault


def traced_pass(wl, probe, cpus: int, args) -> dict:
    from perfbench import layers, probes

    tracer = probes.Tracer(probe, f"{args.workload}-s{args.seed}")
    metrics = layers.traced(wl, tracer, cpus)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace_{args.workload}_s{args.seed}.json"), "w") as f:
        json.dump(tracer.spans, f, indent=1)
    return metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["reconcile_batch", "corpus_build"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    p.add_argument("--scale", type=float, default=None, help="TPC-H scale of the base tables (default: per workload)")
    p.add_argument("--plant", choices=["shuffle", "wrong_row"], default=None, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
