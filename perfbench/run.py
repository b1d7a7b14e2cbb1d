"""The repository benchmark: one command, every metric, outputs checked.

Usage (from the repository root)::

    python3 perfbench/run.py --workload star_ingest --seed 1 --seconds 12 --trace 0

Workloads (``perfbench/WORKLOADS.md`` says why each was chosen, what it
loads and bypasses, and what the seed controls):

* ``star_ingest`` -- ``perfbench/star.py``: the streaming star load, one
  landed day per tick into one growing warehouse, plus the six analyst
  reads after each tick;
* ``catalog_headline`` -- ``perfbench/catalog.py``: the 17 headline
  queries of ``bench.py`` at scale 0.1.

All inputs are generated from ``--seed`` under ``.perfbench_work/``
(removed at exit); nothing outside the checkout is read or written. The
session is ``local[$SPARK_GRAFT_CPUS]``, defaulting to every CPU this
process may use.

``--trace 0`` measures the end-to-end metrics with no instrumentation.
``--trace 1`` wraps the engine's public calls in spans (``trace.py``),
reads Spark's status store after every timed op, and reports the
per-layer metrics (``layers.py``); spans go to ``.perfbench_out/``.

The second-to-last stdout line is ``perfbench-report {...}`` with the
workload's own figures and the environment; the last line is the result
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 1
when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("star_ingest", "catalog_headline")
END_TO_END = [
    ("setup_s", "s"),
    ("op_mean_s", "s"),
    ("op_geomean_s", "s"),
]


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; size the session
    to this host unless the caller chose."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def _stop_jvm(proc) -> None:
    """Wait for the driver JVM to end: it exits when its stdin closes."""
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl__project_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    from etl__project_spark.session import get_spark
    from perfbench import catalog, harness, layers, star

    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    spark = get_spark("perfbench", extra_conf={"spark.driver.extraJavaOptions": java_opts})
    try:
        ctx = harness.Ctx(spark, work, args.seed, args.seconds, bool(args.trace))
        import etl__project_spark.plans  # noqa: F401 - bind every lookup site first
        import etl__project_spark.streaming.pipeline  # noqa: F401

        ctx.tracer.install(layers.trace_targets())
        workload = star if args.workload == "star_ingest" else catalog
        result = workload.run(ctx)
        setup_s = result["setup_end"] - t_start
        metrics = harness.e2e(result["walls"], result["failed"], setup_s)
        peak_rss_mb = harness.peak_rss_mb(spark)
        report = dict(
            result["report"],
            setup_s=setup_s,
            peak_rss_mb=peak_rss_mb,
            environment=harness.environment(spark),
            failed_checks=ctx.checks,
        )
        if args.trace:
            # traced minus untraced end-to-end time is the tracing overhead
            report["traced_end_to_end"] = metrics
            metrics = layers.compute(ctx, args.workload, result)
            metrics["process.peak_rss_mb"] = peak_rss_mb
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            ctx.tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = {n: u for n, u, _b in layers.per_layer_specs()}
        else:
            units = dict(END_TO_END)
    finally:
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        _stop_jvm(jvm)
        shutil.rmtree(work, ignore_errors=True)

    correct = not ctx.checks
    for what in ctx.checks:
        print(f"perfbench: OUTPUT CHECK FAILED: {what}", file=sys.stderr)
    print("perfbench-report " + json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(ctx.ops),
                "failed": sum(1 for o in ctx.ops if o.error),
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
