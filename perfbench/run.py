"""Benchmark entry point.

    python3 perfbench/run.py --workload page_bound --seed 1 --seconds 10 --trace 0

Run from the repository root.  Starts the engine's Spark session
(``pipeline.session.get_spark``) on ``local[N]`` with N = min(4, nproc),
launches the JVM once (untimed), then restarts the session and warms the
Python workers three times and reports the median as ``setup_s``, runs
the workload's closed loop for
``--seconds`` (at least its minimum number of operations), checks every
output and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` enables spans and the Spark event
log and reports the per-layer metrics instead.  The line before it is
the run's provenance and raw samples.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUPS = 3
MAX_CORES = 4

WORKLOADS = ("page_bound", "ckpt_ingest")

def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _warm(batches):
    """Python-worker warm-up: import the engine's kernel modules once per
    worker so the first timed operation does not pay for it."""
    import bsc_project_spark.kernels.golden  # noqa: F401
    import bsc_project_spark.pipeline.extract  # noqa: F401

    yield from batches


def write_conf(conf_dir: str, work: str, event_dir: str | None) -> None:
    """spark-defaults.conf for this run (SPARK_CONF_DIR): keeps every
    Spark file inside the run's work directory and, when tracing, turns on
    the event log."""
    os.makedirs(conf_dir, exist_ok=True)
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if event_dir is not None:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{event_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


def start_session(cores: int):
    from bsc_project_spark.pipeline.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores)


def setup_session(spark, cores: int):
    """One set-up: stop the session, start a new one in the running JVM and
    warm the Python workers (a new session starts new workers); returns
    (spark, seconds)."""
    t0 = time.perf_counter()
    spark.stop()
    spark = start_session(cores)
    spark.range(cores).repartition(cores).mapInPandas(_warm, "id long").count()
    return spark, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session and the driver JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    package = os.path.join(ROOT, "bsc_project_spark")
    if not os.path.isdir(package):
        print(f"engine package not found at {package}", file=sys.stderr)
        return 2

    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    conf_dir = os.path.join(work, "conf")
    write_conf(conf_dir, work, event_dir)
    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    from perfbench import inputs, spans, workloads

    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    cache_dir = os.path.join(BENCH_DIR, ".cache", inputs.source_hash(package))
    spark = None
    try:
        cpu0 = spans.cpu_times()
        t0 = time.perf_counter()
        spark = start_session(cores)
        jvm_start = time.perf_counter() - t0
        setup_times = []
        for _ in range(SETUPS):
            spark, dt = setup_session(spark, cores)
            setup_times.append(dt)
        tracer = spans.Tracer(sc=spark.sparkContext, enabled=bool(args.trace))
        ctx = workloads.Ctx(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            seconds=args.seconds,
            cores=cores,
            work_dir=work,
            cache_dir=cache_dir,
        )
        res = getattr(workloads, args.workload)(ctx)
        rss = spans.tree_peak_rss_mb()
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "master": spark.sparkContext.master,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "git_commit": git_commit(),
            "source_hash": os.path.basename(cache_dir),
            "loadavg_1m": os.getloadavg()[0],
            "cpu_steal_frac": spans.steal_frac(cpu0, spans.cpu_times()),
            "jvm_start_s": jvm_start,
            "setup_s_samples": setup_times,
            "peak_rss_mb_by_process": rss,
            "checks": res.checks,
            "span_mismatch_docs": res.span_mismatch_docs,
            "samples": res.samples,
        }
        stop_jvm(spark)
        spark = None
        if args.trace:
            eng = spans.engine_counters(event_dir)
            n_ops = max(res.attempted, 1)
            layer = dict(res.layer)
            for k in ("tasks", "task_run_s", "shuffle_write_bytes",
                      "shuffle_read_bytes", "gc_s", "spill_bytes"):
                layer[f"spark.{k}"] = eng[k] / n_ops
            layer["spark.max_task_s"] = eng["max_task_s"]
            if "tiling.giant_pages" in layer:
                tiled = spans.engine_counters(event_dir, workloads.TILING)
                layer["tiling.max_task_s"] = tiled["max_task_s"]
            layer["span_mismatch_docs"] = float(res.span_mismatch_docs)
            layer["failed_ops_frac"] = res.failed / n_ops
            metrics = {
                name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                for name, unit in declared_metrics()[1].items()
            }
        else:
            e2e = dict(res.e2e, setup_s=spans.med(setup_times), peak_rss_mb=sum(rss.values()))
            metrics = {
                name: {"value": float(e2e[name]), "unit": unit}
                for name, unit in declared_metrics()[0].items()
            }
        results = os.path.join(BENCH_DIR, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"provenance": provenance, "metrics": metrics}, f, indent=1)
        if args.trace:
            tracer.dump(stem + ".spans.jsonl")
        print(json.dumps(provenance))
        print(
            json.dumps(
                {
                    "correct": res.correct,
                    "attempted": res.attempted,
                    "failed": res.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
