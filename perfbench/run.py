#!/usr/bin/env python3
"""Benchmark of record for vamana_spark.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Runs one workload (search or near_dup; see README.md) on a
``local[nproc]`` Spark session driven by a single closed-loop client.
Inputs are generated from ``--seed``; every output is checked against
oracles in ``oracles.py``. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Run from the root of a source checkout: the program is imported from
there, and scratch files stay under ``.bench_work/`` in it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (unit, better); mirrored in BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_ms_per_item": ("ms", "lower"),
    "recall": ("ratio", "higher"),
    "ok_op_frac": ("ratio", "higher"),
    "rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "session.start_s": "s",
    "trace.timed_wall_s": "s",
    "trace.overhead_frac": "ratio",
    "self_s.bench": "s",
    "self_s.vamana.search": "s",
    "self_s.dedup": "s",
    "vamana.build.call_s": "s",
    "vamana.build.checkpoint_s": "s",
    "vamana.build.centers_s": "s",
    "vamana.build.shard_kernels_s": "s",
    "vamana.build.prune_s": "s",
    "vamana.build.spark_jobs": "count",
    "vamana.build.spark_stages": "count",
    "vamana.build.spark_tasks": "count",
    "vamana.build.failed_tasks": "count",
    "kernels.build_dense_s": "s",
    "kernels.build_shard_s": "s",
    "kernels.search_batch_s": "s",
    "search.ef": "count",
    "search.hops_per_query": "count",
    "search.dist_comps_per_query": "count",
    "vamana.search.call_s": "s",
    "vamana.search.first_call_s": "s",
    "vamana.search.overhead_s": "s",
    "vamana.search.after_mutation_s": "s",
    "vamana.search.spark_jobs_per_call": "count",
    "vamana.search.spark_tasks_per_call": "count",
    "vamana.add_points.call_s": "s",
    "vamana.add_points.spark_jobs": "count",
    "vamana.add_points.spark_stages": "count",
    "vamana.add_points.spark_tasks": "count",
    "vamana.delete_points.call_s": "s",
    "vamana.delete_points.spark_jobs": "count",
    "vamana.delete_points.spark_stages": "count",
    "vamana.delete_points.spark_tasks": "count",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.near_dups_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.spark_jobs": "count",
    "dedup.spark_stages": "count",
    "dedup.spark_tasks": "count",
    "proc.driver_rss_mb": "MB",
    "proc.jvm_rss_mb": "MB",
    "proc.workers_rss_mb": "MB",
}

# Set-up runs this many times in one process; setup_s reports the median.
SETUP_REPS = 3
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search", "near_dup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input scale; 'tiny' is for the self-test")
    return p.parse_args(argv)


def pin_environment(work):
    """Size Spark to the host's cores and keep every file it writes inside
    ``work``. Must run before pyspark starts its JVM."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        # every JVM (the spark-submit launcher too): no hsperfdata files
        # in /tmp, temp files in the work dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        # get_session defaults to local[32]; one task slot per core here
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]),
    })
    return nproc


def environment(args, nproc):
    import numpy
    import pyspark

    blas = {k: os.environ.get(k) for k in
            ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")}
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "nproc": nproc,
            "spark_master": f"local[{nproc}]", "driver_memory": DRIVER_MEM,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "blas_threads": blas}


def stop_spark(spark, rss):
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until no process this run started is left."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while rss.descendants() and time.time() < deadline:
        time.sleep(0.2)


def log(msg):
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vamana_spark", "__init__.py")):
        print(f"vamana_spark not found under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    nproc = pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from harness import ProcTree, Recorder, median
    from workloads import WORKLOADS

    env = environment(args, nproc)
    rss = ProcTree()
    rec = Recorder(f"{args.workload}-{args.seed}-{os.getpid()}", rss.cpu_seconds, trace=bool(args.trace))
    metrics = {}
    try:
        with rss:
            from vamana_spark.session import get_session

            with rec.span("session.get_session"):
                t0 = time.perf_counter()
                spark = get_session(app_name=f"perfbench-{args.workload}")
                session_s = time.perf_counter() - t0
            try:
                rec.attach(spark.sparkContext)
                wl = WORKLOADS[args.workload](spark, rec, args.seed, args.size)
                prep = []
                for _ in range(SETUP_REPS):
                    with rec.span("bench.prepare"):
                        t0 = time.perf_counter()
                        wl.prepare()
                        prep.append(time.perf_counter() - t0)
                with rec.span("bench.warm_up"):
                    t0 = time.perf_counter()
                    wl.warm_up()
                    warm_s = time.perf_counter() - t0
                metrics["setup_s"] = session_s + median(prep) + warm_s
                log(f"session {session_s:.2f}s, prepare {['%.2f' % x for x in prep]}, warm-up {warm_s:.2f}s")
                if args.trace:
                    # the same ops twice, traced then untraced; the wall
                    # difference is the tracing overhead. Traced goes first,
                    # so warm-up left over from set-up inflates, never hides,
                    # the overhead.
                    with rec.span("timed"):
                        root = rec.root()
                        t_loop = time.perf_counter()
                        n_ops, wall1, _ = wl.measure(args.seconds)
                    metrics["rss_mb"] = rss.median_rss(t_loop, time.perf_counter())
                    layer = rec.self_times(root)
                    metrics.update(wl.diagnose())
                    rec.trace = False
                    _, wall0, _ = wl.measure(None, ops=n_ops)
                    rec.trace = True
                    metrics["trace.timed_wall_s"] = rec.spans[root]["end"] - rec.spans[root]["start"]
                    metrics["trace.overhead_frac"] = wall1 / wall0 - 1.0
                    for k in ("bench", "vamana.search", "dedup"):
                        metrics[f"self_s.{k}"] = layer.get(k, 0.0)
                    metrics["session.start_s"] = session_s
                else:
                    t_loop = time.perf_counter()
                    n_ops, wall, m = wl.measure(args.seconds)
                    metrics["rss_mb"] = rss.median_rss(t_loop, time.perf_counter())
                    log(f"timed: {n_ops} ops in {wall:.2f}s; RSS peak {rss.peak['total']:.0f} MB, "
                        f"median in loop {metrics['rss_mb']:.0f} MB")
                    metrics.update(m)
                metrics.update(wl.after())
            finally:
                stop_spark(spark, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.trace:
        rec.write_spans(os.path.join(ROOT, ".bench_traces", f"{rec.run_id}.json"))
    metrics["ok_op_frac"] = (rec.attempted - rec.failed) / max(1, rec.attempted)
    for part in ("driver", "jvm", "workers"):
        metrics[f"proc.{part}_rss_mb"] = rss.peak[part]

    if args.trace:
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": float(metrics[k]), "unit": u} for k, (u, _) in END_TO_END.items()}
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
