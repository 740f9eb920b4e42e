"""Per-layer metrics of a traced run, reduced from the tracer's spans and
counts. Every workload prints every metric below; a layer a workload does
not exercise reads 0.

Unless noted, a value is the mean per timed op of the traced loop (a
dashboard panel, an ingest batch, a registry query). Maintenance layers
(compact, vacuum, rollup refresh) are means per call; ``jvm.*``,
``indexes.*`` and the write amplification cover the whole traced interval.
"""

from __future__ import annotations

import statistics

import harness
import spans

FAMILIES = ["ts", "promql", "tpch", "maint", "sql", "docs", "emb", "flagship"]

LAYERS = {
    "session.start_s": "s",
    "engine.door_ms": "ms",
    "engine.shape_ms": "ms",
    "engine.rollup_served_ratio": "ratio",
    "engine.ingest_ms": "ms",
    "adaptive.record_ms": "ms",
    "promql.plan_ms": "ms",
    "promql.py4j_calls": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.files_scanned": "count",
    "jvm.gc_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "remote_write.decode_ms": "ms",
    "ingest.normalize_ms": "ms",
    "ingest.write_ms": "ms",
    "ingest.register_ms": "ms",
    "ingest.files_written": "count",
    "ingest.bytes_written": "bytes",
    "snapshots.commit_ms": "ms",
    "snapshots.manifests_read": "count",
    "snapshots.head_files": "count",
    "snapshots.compact_ms": "ms",
    "snapshots.compact_bytes": "bytes",
    "snapshots.vacuum_ms": "ms",
    "snapshots.write_amp": "ratio",
    "rollup.refresh_ms": "ms",
    "rollup.rebuilds": "count",
    "rollup.incremental_refreshes": "count",
    "tables.schema_cache_hit_ratio": "ratio",
    "indexes.builds": "count",
    "indexes.build_ms": "ms",
    "indexes.reads": "count",
    "registry.construct_ms": "ms",
    "registry.exec_ms": "ms",
    **{f"registry.{f}_s": "s" for f in FAMILIES},
    "trace.overhead_p50_ms": "ms",
    "trace.overhead_work_pct": "%",
}

MAINTENANCE = harness.MAINTENANCE


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def layers(
    tracer: spans.Tracer,
    spark,
    loop: harness.Loop,
    base: harness.Loop,
    gc_ms: float,
    rollup_served: float = 0.0,
    user_bytes: float = 0.0,
    work: tuple[float, float] = (0.0, 0.0),
) -> dict:
    """``base`` is the untraced loop of the same run; ``work`` is (traced,
    untraced) work done, for the overhead on ``work_per_s`` (ops when
    zero)."""
    ops = {k for k, v in tracer.ops.items() if v.kind != MAINTENANCE}
    ticks = {k for k, v in tracer.ops.items() if v.kind == MAINTENANCE}
    stats = [tracer.ops[k] for k in ops]
    n = max(len(ops), 1)
    sp = tracer.spans

    def per_op(name: str, self_time: bool = False) -> float:
        f = tracer.self_ms if self_time else tracer.total_ms
        return f(name, ops) / n

    def per_call(name: str) -> float:
        c = tracer.calls(name, ticks)
        return tracer.total_ms(name, ticks) / c if c else 0.0

    def op_sum(get) -> float:
        return sum(get(s) for s in stats) / n

    commits = [s for s in sp if s.name == "snapshots.commit" and s.op in ops]
    refreshes = [s for s in sp if s.name == "rollup.refresh" and s.op in ticks]
    builds = [s for s in sp if s.name == "indexes.build" and s.op in ops and not s.attrs.get("hit")]
    c = tracer.counts
    out = {
        "session.start_s": sum(s.dur for s in sp if s.name == "session.start"),
        "engine.door_ms": per_op(spans.DOOR, self_time=True),
        "engine.shape_ms": per_op(spans.SHAPE, self_time=True),
        "engine.rollup_served_ratio": rollup_served,
        "engine.ingest_ms": per_op("engine.ingest", self_time=True),
        "adaptive.record_ms": per_op("adaptive.record"),
        "promql.plan_ms": per_op("promql.plan"),
        "promql.py4j_calls": op_sum(lambda s: s.py4j),
        "spark.analysis_ms": op_sum(lambda s: s.phases_ms["analysis"]),
        "spark.optimization_ms": op_sum(lambda s: s.phases_ms["optimization"]),
        "spark.planning_ms": op_sum(lambda s: s.phases_ms["planning"]),
        "spark.exec_ms": per_op(spans.EXEC, self_time=True),
        "spark.jobs": op_sum(lambda s: s.jobs),
        "spark.stages": op_sum(lambda s: s.stages),
        "spark.tasks": op_sum(lambda s: s.tasks),
        "spark.files_scanned": op_sum(lambda s: s.files_scanned),
        "jvm.gc_ms": gc_ms,
        "jvm.peak_rss_mb": harness.peak_rss_mb(spark),
        "remote_write.decode_ms": op_sum(lambda s: s.stage_data["python_ms"]),
        "ingest.normalize_ms": per_op("ingest.normalize"),
        "ingest.write_ms": per_op("ingest.write"),
        "ingest.register_ms": per_op("ingest.register"),
        "ingest.files_written": c["ingest.files_written"] / n,
        "ingest.bytes_written": c["ingest.bytes_written"] / n,
        "snapshots.commit_ms": per_op("snapshots.commit"),
        "snapshots.manifests_read": _mean(s.attrs.get("manifests", 0) for s in commits),
        "snapshots.head_files": _mean(s.attrs.get("head_files", 0) for s in commits),
        "snapshots.compact_ms": per_call("snapshots.compact"),
        "snapshots.compact_bytes": _mean(
            s.attrs.get("bytes", 0) for s in sp if s.name == "snapshots.compact" and s.op in ticks
        ),
        "snapshots.vacuum_ms": per_call("snapshots.vacuum"),
        "snapshots.write_amp": c["root_bytes_written"] / user_bytes if user_bytes else 0.0,
        "rollup.refresh_ms": per_call("rollup.refresh"),
        "rollup.rebuilds": sum(1 for s in refreshes if s.attrs.get("mode") == "rebuild"),
        "rollup.incremental_refreshes": sum(1 for s in refreshes if s.attrs.get("mode") == "incremental"),
        "tables.schema_cache_hit_ratio": (
            c["schema_cache_hits"] / c["schema_cache_lookups"] if c["schema_cache_lookups"] else 0.0
        ),
        "indexes.builds": len(builds),
        "indexes.build_ms": 1e3 * sum(s.dur for s in builds),
        "indexes.reads": sum(1 for s in sp if s.name == "indexes.build" and s.op in ops and s.attrs.get("hit")),
        "registry.construct_ms": per_op("registry.construct"),
        "registry.exec_ms": per_op("registry.exec"),
    }
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "executor_run_ms", "executor_cpu_ms"):
        out[f"spark.{key}"] = op_sum(lambda s, key=key: s.stage_data[key])
    rounds = max(1, len(ops) // max(1, len({tracer.ops[k].kind for k in ops})))
    for fam in FAMILIES:
        fam_ops = {k for k in ops if tracer.ops[k].kind.split("_", 1)[0] == fam}
        total = tracer.total_ms("registry.construct", fam_ops) + tracer.total_ms("registry.exec", fam_ops)
        out[f"registry.{fam}_s"] = total / 1e3 / rounds
    out["trace.overhead_p50_ms"] = statistics.median(loop.latencies_ms) - statistics.median(base.latencies_ms)
    traced_work, base_work = work if work[0] else (len(loop.latencies_ms), len(base.latencies_ms))
    traced_rate, base_rate = traced_work / loop.elapsed_s, base_work / base.elapsed_s
    out["trace.overhead_work_pct"] = 100.0 * (base_rate - traced_rate) / base_rate
    return {k: {"value": float(out[k]), "unit": u} for k, u in LAYERS.items()}
