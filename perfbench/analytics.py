"""``analytics``: passes over registry queries, the way ``bench.py`` times
them. The cold first pass is part of set-up; the timed passes run on a
warm JVM but still rebuild every namesake's stored index, like
``bench.py``'s repeats.

It reuses ``bench.py``'s own ``warm_up``, ``CACHE_NAMESAKES`` eviction and
noop sink, and runs a fixed subset of ``BENCH_PRINT_ANCHORS`` in
``BENCH_ORDER``: one query per registry family. The input is the registry's star schema at
scale 0.01 built by ``gen.registry_tables`` from the fixed seed 42, the
seed of the registry's own fixtures, so ``--seed`` does not change it.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

import gen
import harness

QUERIES = [
    "flagship_minute_p99",
    "ts_rate_faithful",
    "promql_histogram_quantile",
    "tpch_q5ish",
    "sql_rollup",
    "maint_rollup_routed",
    "docs_simhash_pairs",
    "emb_near_dup",
]
DATA_SEED = 42
# nominal seconds per warm pass on a 4-core host (3-5 s as the host's
# speed moves): --seconds 12 gives four timed passes, 32 queries
ROUND_S = 3.0


def run(ctx: harness.Ctx) -> dict:
    import bench
    from cardinalsin_spark import queries as registry

    order = [n for n in bench.BENCH_ORDER if n in QUERIES]
    if sorted(order) != sorted(QUERIES) or not set(QUERIES) <= set(bench.BENCH_PRINT_ANCHORS):
        raise SystemExit("analytics queries must be print anchors listed in BENCH_ORDER")
    sf = os.path.join(ctx.work, "sf")
    os.makedirs(sf)
    table_bytes = gen.registry_tables(sf, DATA_SEED)
    fns = registry.queries()
    tracer = ctx.tracer

    t0 = time.perf_counter()
    if tracer is not None:
        tracer.enabled = True
    spark = harness.start_session()
    if tracer is not None:
        tracer.spark = spark

    def span(name: str):
        return tracer.span(name) if tracer is not None else contextlib.nullcontext()

    def op(name: str, i: int):
        if name in bench.CACHE_NAMESAKES:  # price the namesake's index cold
            bench._evict_index_cache(bench.CACHE_NAMESAKES[name])
        with span("registry.construct"):
            df = fns[name](spark, sf)
        with span("registry.exec"):
            bench._run_to_completion(df)

    bench.warm_up(spark, sf)
    for name in order:  # the cold first pass, kept out of the latencies
        op(name, -1)
    setup_s = time.perf_counter() - t0

    gc0 = harness.gc_ms(spark)
    loop, base = harness.closed_loop(order, harness.rounds_for(ctx.seconds, ROUND_S), op, tracer)
    gc1 = harness.gc_ms(spark)
    heap = harness.live_heap_mb(spark)

    t_checks = time.perf_counter()
    # output checks against the DuckDB oracle, outside the timed interval
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(checkout, "tests"))
    from oracle_harness import compare

    oracles = registry.oracle_sql()
    for name in order:
        if name not in oracles:
            continue
        exact, approx, detail = compare(fns[name](spark, sf), oracles[name], sf)
        if not (exact or approx):
            loop.failed += 1
            loop.errors.append(f"{name}: {detail}")

    checks_s = time.perf_counter() - t_checks
    metrics = {"setup_s": harness.metric(setup_s, "s")}
    metrics.update(harness.latency_metrics(loop, len(loop.latencies_ms)))
    # what the registry itself stores: its query-side fixtures (rollups, the
    # SQL-door store, quantile sketches), all derived from ``events``
    metrics["space_amp"] = harness.metric(
        harness.dir_bytes(*registry._FIXTURE_DIRS) / table_bytes["events"], "ratio"
    )
    metrics["live_heap_mb"] = harness.metric(heap, "MB")
    layers = None
    if tracer is not None:
        import report

        layers = report.layers(tracer, spark, loop, base, (gc1 - gc0) / (loop.attempted + base.attempted))
    return {"loop": loop, "base": base, "metrics": metrics, "layers": layers, "checks_s": checks_s}
