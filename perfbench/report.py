"""Metric names, units and how each is computed from one run.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced run (spans + Spark status store). ``README.md`` in this directory
maps each per-layer metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import statistics

from workloads import Pipeline, quantile

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
}

# the pipeline workload's operator calls, and the layer dup_clusters reaches;
# ``<op>.ms`` is self time
OPERATORS = Pipeline.OPS + ("connected_components",)
OPERATOR_METRICS = {"ms": "ms", "jobs": "count", "executor_ms": "ms", "shuffle_write_bytes": "bytes"}

PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "find.p50_ms": "ms",
    "find.p90_ms": "ms",
    "find.plan_ms": "ms",
    "find.exec_ms": "ms",
    "find.jobs": "count",
    "find.executor_ms": "ms",
    "find.driver_gap_ms": "ms",
    "find.eq.p50_ms": "ms",
    "find.many.p50_ms": "ms",
    "find.range.p50_ms": "ms",
    "find.first_after_commit_ms": "ms",
    "access_path.index_frac": "ratio",
    "prune.files_kept_frac": "ratio",
    "manifest.commit_ms": "ms",
    "manifest.commits": "count",
    "manifest.files_end": "count",
    "insert.ms": "ms",
    "insert.jobs": "count",
    "insert.executor_ms": "ms",
    "insert.driver_gap_ms": "ms",
    "insert.bytes_written": "bytes",
    "compact.ms": "ms",
    "compact.jobs": "count",
    "compact.bytes_rewritten": "bytes",
    "delete.ms": "ms",
    "delete.jobs": "count",
    "delete.bytes_rewritten": "bytes",
    "tombstone.ms": "ms",
    "tombstone.jobs": "count",
    "refresh.ms": "ms",
    "refresh.jobs": "count",
    "refresh.scanned_base_frac": "ratio",
    "space_amp": "ratio",
    **{f"{op}.{m}": u for op in OPERATORS for m, u in OPERATOR_METRICS.items()},
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.driver_gap_ms_per_op": "ms",
    "trace.overhead_ms_per_op": "ms",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def finds(samples: dict) -> list[float]:
    return [x for k, v in samples.items() if k.startswith("find.") for x in v]


def end_to_end(setup_s: float, loop: dict) -> dict:
    return {
        "setup_s": setup_s,
        "throughput_per_s": loop["work"] / loop["wall_s"],
    }


def per_layer(ctx, tracer, session: dict, space_amp: float) -> dict:
    spans = tracer.spans
    ops = tracer.ops()
    loop_ops = [s for s in ops if s.op >= ctx.loop_first_op]
    own = tracer.self_ms()

    def of(kind):
        """Spans named ``kind`` in the timed loop; for a kind that only
        set-up runs (lookup's insert, compact), those of set-up."""
        named = [s for s in spans if s.name == kind]
        return [s for s in named if s.op >= ctx.loop_first_op] or named

    def spark_mean(kind, key):
        return _mean(s.spark[key] for s in of(kind))

    find_ops = [s for s in loop_ops if s.name.startswith("find.")]
    find_ids = {s.id for s in find_ops}
    plan = [own[s.id] for s in spans if s.parent in find_ids and s.name != "collect"]
    execs = [own[s.id] for s in spans if s.parent in find_ids and s.name == "collect"]
    # latency of the first find after each commit
    after_commit, armed = [], False
    for s in spans:
        if s.name == "manifest.commit":
            armed = True
        elif armed and s.name.startswith("find.") and s.parent is None:
            after_commit.append(s.ms)
            armed = False
    commits = [s for s in spans if s.name == "manifest.commit"]
    ex = ctx.explains
    f = finds(ctx.samples)
    out = {
        "session.start_s": session["start_s"],
        "session.jvm_peak_rss_mb": session["jvm_peak_rss_mb"],
        "find.p50_ms": quantile(f, 0.5) * 1e3 if f else 0.0,
        "find.p90_ms": quantile(f, 0.9) * 1e3 if f else 0.0,
        "find.plan_ms": _median(plan),
        "find.exec_ms": _median(execs),
        "find.jobs": _mean(s.spark["jobs"] for s in find_ops),
        "find.executor_ms": _mean(s.spark["executor_ms"] for s in find_ops),
        "find.driver_gap_ms": _mean(s.spark["driver_gap_ms"] for s in find_ops),
        "find.eq.p50_ms": _median(s.ms for s in of("find.eq")),
        "find.many.p50_ms": _median(s.ms for s in of("find.many")),
        "find.range.p50_ms": _median(s.ms for s in of("find.range")),
        "find.first_after_commit_ms": _median(after_commit),
        "access_path.index_frac": _mean(float(used) for used, _, _ in ex),
        "prune.files_kept_frac": _mean(kept / total for _, kept, total in ex if total),
        "manifest.commit_ms": _median(s.ms for s in commits),
        "manifest.commits": len(commits),
        "manifest.files_end": len(ctx.store.manifest.files) if ctx.store is not None else 0,
        "insert.ms": _median(s.ms for s in of("insert")),
        "insert.jobs": spark_mean("insert", "jobs"),
        "insert.executor_ms": spark_mean("insert", "executor_ms"),
        "insert.driver_gap_ms": spark_mean("insert", "driver_gap_ms"),
        "insert.bytes_written": _mean(ctx.files[s.id] for s in of("insert")),
        "compact.ms": _median(s.ms for s in of("compact")),
        "compact.jobs": spark_mean("compact", "jobs"),
        "compact.bytes_rewritten": _mean(ctx.files[s.id] for s in of("compact")),
        "delete.ms": _median(s.ms for s in of("delete")),
        "delete.jobs": spark_mean("delete", "jobs"),
        "delete.bytes_rewritten": _mean(ctx.files[s.id] for s in of("delete")),
        "tombstone.ms": _median(s.ms for s in of("tombstone")),
        "tombstone.jobs": spark_mean("tombstone", "jobs"),
        "refresh.ms": _median(s.ms for s in of("refresh")),
        "refresh.jobs": _mean(j for j, _ in ctx.refreshes),
        "refresh.scanned_base_frac": _mean(float(b) for _, b in ctx.refreshes),
        "space_amp": space_amp,
        "spark.jobs_per_op": _mean(s.spark["jobs"] for s in loop_ops),
        "spark.tasks_per_op": _mean(s.spark["tasks"] for s in loop_ops),
        "spark.executor_ms_per_op": _mean(s.spark["executor_ms"] for s in loop_ops),
        "spark.shuffle_write_bytes_per_op": _mean(s.spark["shuffle_write_bytes"] for s in loop_ops),
        "spark.driver_gap_ms_per_op": _mean(s.spark["driver_gap_ms"] for s in loop_ops),
        "trace.overhead_ms_per_op": tracer.overhead_s * 1e3 / max(1, len(ops)),
    }
    for op in OPERATORS:
        calls = of(op)
        out[f"{op}.ms"] = _median(own[s.id] for s in calls)
        for m in ("jobs", "executor_ms", "shuffle_write_bytes"):
            out[f"{op}.{m}"] = _mean(s.spark[m] for s in calls)
    return out
