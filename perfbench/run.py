"""Run one benchmark workload against sparkfts and print its metrics.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Workloads: nightly_build, serve_zipf, delta_ingest (see workloads.py).
With ``--trace 0`` the run measures the end-to-end metrics untraced;
with ``--trace 1`` it alternates traced and untraced iterations and
reports the per-layer metrics plus the tracing overhead. Earlier lines
of standard output name each metric of the workload; the last line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Spark runs in this process's JVM at ``local[<usable CPUs>]`` with the
fixed settings in ``make_spark``; every file the run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (traced
runs' spans) in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("nightly_build", "serve_zipf", "delta_ingest")
DRIVER_MEMORY = "4g"


def make_spark(work: str):
    from pyspark.sql import SparkSession
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    return (SparkSession.builder
            .master(f"local[{cpus}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
            .config("spark.sql.files.maxPartitionBytes", "16m")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.local.dir", os.path.join(work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:   # noqa: BLE001
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkfts", "__init__.py")):
        print(f"perfbench: no sparkfts package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from perfbench import layers, workloads
        spark = make_spark(work)
        spark.sparkContext.setLogLevel("ERROR")
        run = workloads.Run(spark, work, args.seed, args.seconds,
                            bool(args.trace))
        run.mark("spark session up")
        root, src, idx = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            layers.probe(run, root, src, idx)
            metrics = layers.layer_metrics(run, args.workload, root)
            spans = os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{args.workload}-{args.seed}-"
                                 f"{os.getpid()}.jsonl")
            run.tracer.write(spans)
            print(f"spans: {os.path.relpath(spans, ROOT)}")
        else:
            metrics, named = workloads.end_to_end(run, args.workload)
            for name, (value, unit) in named.items():
                print(f"{args.workload}.{name} = {value:.6g} {unit}")
    except Exception:   # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(value), "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
