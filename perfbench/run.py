"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout: it imports ``shortcut_spark`` from
there, starts one local Spark session (``local[N]``, N = the cores this
process may use, unless ``SPARK_GRAFT_CPUS`` says otherwise), builds the
workload's inputs from ``--seed``, sets up, measures a closed loop for
``--seconds`` and checks every output. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, a separate traced run). A fuller record — host and config,
per-op-kind latencies, Spark job counts and, when traced, every span — is
written to ``--out``. Stores, Spark scratch space and temp files live in a
temporary directory under ``perfbench/.work`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import hostinfo  # noqa: E402
import report  # noqa: E402
from tracer import JobCounter, NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx, space_amp, summarize  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="data size relative to the benchmark's own")
    p.add_argument("--out", default=os.path.join(HERE, "results"), help="directory for run records")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point the scratch space of Python, Spark and the JVM into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {opts}".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(hostinfo.cpus()))
    os.chdir(work)  # spark-warehouse and any other cwd-relative output


def stop(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, work: str) -> dict:
    from shortcut_spark import get_spark
    from shortcut_spark.manifest import Manifest
    from shortcut_spark.operators import graph

    before = hostinfo.snapshot()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        jobs = JobCounter(spark)
        tracer = Tracer(spark) if args.trace else NullTracer()
        ctx = Ctx(spark, tracer, work, args.seed, args.scale)
        wl = WORKLOADS[args.workload](ctx)
        with (
            tracer.wrap(Manifest, "commit", "manifest.commit"),
            tracer.wrap(graph, "connected_components", "connected_components", spark=True),
        ):
            wl.setup()
            setup_s = time.perf_counter() - t0
            setup_jobs = jobs.mark()
            ctx.loop_first_op = tracer.n_ops + 1 if args.trace else 0
            loop = wl.loop(args.seconds)
            loop["jobs"] = jobs.mark() - setup_jobs
            finished = wl.finish()
        # space_amp is a per-layer metric: it costs a Spark write, so only
        # the traced run takes it
        amp = space_amp(ctx, finished) if args.trace else None
        host = hostinfo.record(spark, before, hostinfo.snapshot())
        session = {
            "start_s": start_s,
            "jvm_peak_rss_mb": hostinfo.peak_rss_mb(spark.sparkContext._gateway.proc.pid),
        }
        if args.trace:
            metrics, units = report.per_layer(ctx, tracer, session, amp), report.PER_LAYER
        else:
            metrics = report.end_to_end(setup_s, loop)
            units = report.END_TO_END
    finally:
        stop(spark)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "result": result,
        "failed_frac": ctx.failed / max(1, ctx.attempted),
        "errors": ctx.errors[:20],
        "host": host,
        "session": session,
        "setup_s": setup_s,
        "setup_jobs": setup_jobs,
        "loop": loop,
        "space_amp": amp,
        "ops": summarize(ctx.samples),
        "samples_ms": {k: [x * 1e3 for x in v] for k, v in ctx.samples.items()},
        "spans": tracer.to_records() if args.trace else None,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import shortcut_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import shortcut_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    scratch = os.path.join(HERE, ".work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=scratch)
    cwd = os.getcwd()
    try:
        isolate(work)
        record = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(args.out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(args.out, name), "w") as fh:
        json.dump(record, fh, indent=1)
    h = record["host"]
    print(
        f"perfbench: {args.workload} seed={args.seed} units={record['loop']['units']} "
        f"local[{h['SPARK_GRAFT_CPUS']}] defaultParallelism={h['defaultParallelism']} "
        f"dirty={h['dirty']} errors={record['errors'][:3]}",
        file=sys.stderr,
    )
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
