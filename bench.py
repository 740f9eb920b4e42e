"""Benchmark harness: runs the registry's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, "write_path": {...}}

Each query is executed to completion with the no-op sink (full pipeline runs
on executors, nothing is collected to the driver — same shape as a cluster
write job).

Output-size contract: the driver that consumes this line only captures the
last ~2000 characters of stdout (round 3's full 87-query line overflowed
that buffer and failed to parse). The printed line is therefore kept under
OUTPUT_BUDGET chars — per-query timings are rounded to 2 decimals and, if
the line would still overflow, the fastest queries are dropped from the
"queries" dict (slowest-first retention; "queries_omitted" counts the rest).
The COMPLETE per-query timing map is always written to BENCH_DETAIL.json
next to this file.

Run-hygiene: write-path throughput is measured right after warm-up, BEFORE
the query suite (round 3 measured it after 87 queries in the same JVM and
saw a 1.7x drop from accumulated GC/codegen pressure — harness artifact,
not a write-path regression). Between query groups the cache is cleared and
both Python and JVM GC are invoked so one group's pressure doesn't bleed
into the next group's timings.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

from pyspark.sql import functions as F

from cardinalsin_spark import queries as q
from cardinalsin_spark.session import get_spark

OUTPUT_BUDGET = 1900  # chars; driver stdout-tail buffer is ~2000

# Fixed run order = the round-3 registry order (+ new queries appended), so
# per-query timings stay comparable across rounds REGARDLESS of the
# correctness-window rotation in queries.REGISTRY. Order matters for
# attribution: the session-scoped indexes (queries_llm._minhash_sims,
# queries_llm._simhash_sigs) are built by their FIRST consumer — the order
# below makes those the queries named for them (docs_minhash_pairs,
# docs_simhash) — and warm-up costs land on the same queries each round.
BENCH_ORDER = [
    "flagship_minute_p99", "ts_bucket_avg", "ts_instant_sum", "ts_rate",
    "ts_increase", "ts_rate_faithful", "ts_irate_faithful", "ts_deriv",
    "ts_latest_per_series", "ts_topk", "ts_distinct_values",
    "ts_distinct_series", "ts_dedup_first", "ts_filter_range",
    "promql_range_sum_by", "promql_rate_range", "promql_instant_sum",
    "promql_instant_topk", "promql_rate_faithful", "promql_irate_faithful",
    "promql_binary_ratio", "promql_over_time", "promql_quantile",
    "promql_offset_delta", "promql_label_replace", "promql_count_values",
    "promql_absent", "tpch_q1", "tpch_q3ish", "sql_rollup", "sql_cube",
    "maint_l0_plan", "maint_small_files", "maint_leveled_plan",
    "maint_retention", "maint_time_prune", "maint_downsample",
    # rate_routed FIRST among the sqldoor-fixture consumers: it is the
    # _SQL_DOOR_CACHE namesake (the metrics reshape + 6h rollup build is
    # the continuous-aggregate "index" and belongs to its cold time);
    # sql_door then measures the routed aggregation warm
    "maint_rollup_routed", "maint_rollup_rate_routed",
    "maint_rollup_sql_door",
    # sketch_quantile_routed builds its own quantile-sketch fixture on
    # top of the sqldoor metrics reshape (warm by now) — the sketch
    # build is ITS continuous-aggregate "index" and is priced cold via
    # CACHE_NAMESAKES each repeat; promql_quantile_routed then measures
    # the PromQL approximate-quantile serving door over the SAME warm
    # sketch (the door is what's new — its fixture cost is already
    # attributed to the namesake above)
    "maint_sketch_quantile_routed", "promql_quantile_routed",
    "ts_asof_join", "ts_gapfill_locf", "ts_resets_changes",
    "ts_predict_linear", "ts_stddev", "promql_histogram_quantile",
    "tpch_q6", "tpch_q5ish", "tpch_q10ish", "tpch_q14ish", "ts_sessionize",
    "ts_outliers", "ts_heatmap", "ts_rate_extrapolated", "promql_resets",
    "promql_predict_linear", "promql_idelta", "promql_clamp",
    "promql_rate_extrapolated", "promql_delta_faithful",
    # docs_minhash_pairs precedes the other _minhash_sims consumers so the
    # session-scoped index build is attributed to the query named for it
    # (contamination stopped consuming the index when it moved to winnowing
    # fingerprints; in the round-4 run the build cost landed on
    # docs_clean_corpus, 9.4s of which ~8s was index build)
    "docs_minhash_pairs",
    "docs_contamination", "docs_clean_corpus", "emb_centroids",
    "emb_knn_classify", "docs_rare_words", "docs_pack_shards",
    "docs_crossdup", "docs_gopher_repetition", "docs_exact_dedup",
    "docs_token_stats", "docs_quality", "docs_lang_id",
    "docs_near_dedup", "docs_near_dedup_cc",
    "docs_winnow", "docs_simhash", "docs_simhash_pairs", "emb_cosine_topk",
    "emb_cosine_lsh", "emb_near_dup", "emb_near_dup_cc",
    "docs_ngram_jaccard", "emb_ivf_topk", "media_image_features",
    "media_audio_features", "media_frame_sample", "docs_split_assign",
    "docs_stratified_sample", "docs_quality_filter",
    # round-4 additions
    "docs_pii_scrub", "media_resize", "docs_span_dedup",
    "ts_holt_winters", "promql_holt_winters", "promql_quantile_over_time",
    "emb_ivfpq_topk", "promql_subquery_max_rate", "maint_zorder_key",
    "promql_absent_over_time", "emb_ivfpq_residual_topk",
    "tpch_q4ish", "tpch_q16ish",
]


def _bench_sequence(registry_queries: dict) -> list[str]:
    ordered = [n for n in BENCH_ORDER if n in registry_queries]
    ordered += [n for n in registry_queries if n not in BENCH_ORDER]
    return ordered


# Session-scoped index/fixture caches and the query each build is
# ATTRIBUTED to (the namesake that runs first). Evicted before EVERY
# timed repeat of the namesake so a median-of-N run prices the build
# cold each time — exactly what the driver's single pass pays (VERDICT
# r10 item 4: docs_simhash read 13x its median because repeats 2..N
# were warm; the family total was fine, the attribution was not). The
# last repeat leaves the cache warm, so downstream consumers measure
# warm in both modes. The rollup rows' parquet fixtures follow the same
# doctrine: their one-time downsample/reshape build is the continuous-
# aggregate "index" and belongs to the namesake's cold time.
CACHE_NAMESAKES = {
    "docs_minhash_pairs": ("cardinalsin_spark.queries_llm", "_SIMS_CACHE"),
    "docs_simhash": ("cardinalsin_spark.queries_llm", "_SIMHASH_CACHE"),
    # r14 pair-index caches (the _SIMS_CACHE doctrine applied to the
    # SimHash and embedding detectors): priced cold on their namesakes
    "docs_simhash_pairs": (
        "cardinalsin_spark.queries_llm", "_SIMHASH_PAIRS_CACHE",
    ),
    "emb_near_dup": (
        "cardinalsin_spark.queries_llm", "_NEARDUP_PAIRS_CACHE",
    ),
    # trained-quantizer + corpus-encode caches: the deterministic IVF/PQ
    # trainings AND the corpus index records they produce are index
    # builds — priced cold (together) on their first BENCH_ORDER consumer
    "emb_ivf_topk": (
        ("cardinalsin_spark.queries_llm", "_IVF_CENTROIDS_CACHE"),
        ("cardinalsin_spark.queries_llm", "_IVF_CORPUS_CACHE"),
    ),
    "emb_ivfpq_topk": (
        ("cardinalsin_spark.queries_llm", "_PQ_CODEBOOKS_CACHE"),
        ("cardinalsin_spark.queries_llm", "_PQ_CORPUS_CACHE"),
    ),
    # r15: the residual-PQ training joined the stored-index surface
    # (VERDICT r14 item 7) — its namesake is also its only consumer
    "emb_ivfpq_residual_topk": (
        "cardinalsin_spark.queries_llm", "_PQ_RESIDUAL_CODEBOOKS_CACHE",
    ),
    "maint_rollup_routed": ("cardinalsin_spark.queries", "_ROLLUP_CACHE"),
    "maint_rollup_rate_routed": ("cardinalsin_spark.queries", "_SQL_DOOR_CACHE"),
    "maint_sketch_quantile_routed": (
        "cardinalsin_spark.queries", "_SKETCH_FIXTURE_CACHE",
    ),
}


def _evict_index_cache(spec) -> None:
    """``spec`` is one (module, attr) pair or a tuple of them — a
    namesake can own several composed index artifacts (e.g. quantizer
    training + the corpus records encoded with it). Since r15 the attrs
    are ``cardinalsin_spark.indexes.StoredIndex`` instances; ``clear()``
    is that API's documented eviction hook."""
    import importlib

    specs = (spec,) if isinstance(spec[0], str) else spec
    for mod, attr in specs:
        getattr(importlib.import_module(mod), attr).clear()


def _run_to_completion(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _calibration(spark, sf_dir: str) -> dict:
    """Fixed-cost environment probes (VERDICT r12 item 4): the driver
    totals drifted 153 → 168 → 225 s across rounds while idle medians
    FELL, so round-over-round totals conflate plan regressions with
    machine drift.  Two constant-work probes timed at the head and again
    at the tail of the suite let future rounds normalize: a pure
    CPU+shuffle probe (spark.range aggregation — no IO) and a fixed
    parquet scan+agg probe (IO+decode).  Their tail/head ratio also
    exposes in-JVM degradation (GC/codegen pressure) accumulated by the
    suite itself."""
    li = os.path.join(sf_dir, "lineitem.parquet")
    probes = {
        "calib_range_agg": lambda: spark.range(0, 20_000_000, 1, 32)
        .selectExpr("(id * 2654435761) % 1000 AS k")
        .groupBy("k")
        .count(),
        "calib_scan_agg": lambda: spark.read.parquet(li).selectExpr(
            "sum(l_quantity) AS s", "count(*) AS n"
        ),
    }
    out = {}
    for name, mk in probes.items():
        start = time.perf_counter()
        _run_to_completion(mk())
        out[name] = round(time.perf_counter() - start, 4)
    return out


def _group_of(name: str) -> str:
    return name.split("_", 1)[0]


def _between_groups(spark) -> None:
    """Drop cached plans/data and nudge both GCs so accumulated pressure
    from one query group doesn't inflate the next group's timings."""
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def warm_up(spark, sf_dir: str) -> None:
    """Untimed JVM/codegen/Python-worker warm-up shared by bench runs and
    the profiler — see the doctrine comments inline."""
    # Warm up the JVM/codegen paths and the Python UDF workers outside the
    # timed region (the first Arrow-batched UDF otherwise pays ~2 s of
    # worker fork + import inside whichever query hits it first).
    _run_to_completion(
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).limit(1)
    )
    from cardinalsin_spark.operators.similarity import dot_q_vectorized

    _run_to_completion(
        spark.range(1)
        .selectExpr("array(1L, 2L) AS a", "array(3L, 4L) AS b")
        .select(dot_q_vectorized()(F.col("a"), F.col("b")).alias("d"))
    )
    # VERDICT r13 item 6 (early-suite attribution): the first
    # events-table queries in BENCH_ORDER (flagship_minute_p99,
    # ts_burn_rate, promql_histogram_quantile) read 2-4x their idle
    # medians under the driver because they pay the events-scan +
    # window/percentile codegen warm-up that idle-median runs amortize
    # across 199 queries. Same doctrine as the UDF warm-up above: a
    # fixed, UNTIMED probe touches those code paths (parquet scan of
    # events, a grouped exact percentile, a partitioned window) so the
    # first timed query measures its plan, not JVM first-touch.
    from pyspark.sql import Window as _W

    _ev_warm = q._events(spark, sf_dir).limit(50_000)
    _run_to_completion(
        _ev_warm.groupBy("event_type").agg(
            F.expr("percentile(value, 0.99)").alias("_p"),
            F.avg("value").alias("_a"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    _run_to_completion(
        _ev_warm.select(
            F.lag("value")
            .over(_W.partitionBy("event_type").orderBy("ts"))
            .alias("_l")
        )
    )
    # Same doctrine for the docs/embeddings families (OPTIMIZATION r14):
    # the first dedup-family query pays md5/regex/explode codegen
    # first-touch (measured: the minhash index build runs 8.8 s cold vs
    # 2.8 s warm — the difference is JIT, not plan). A 200-doc probe
    # through normalize→shingle-explode→md5→aggregate and a tiny
    # quantize→array probe touch those code paths UNTIMED so the timed
    # queries measure their plans.
    from cardinalsin_spark.operators import dedup_docs as _dd
    from cardinalsin_spark.queries_llm import _docs as _docs_warm

    _docs200 = _docs_warm(spark, sf_dir).limit(200)
    _run_to_completion(
        _dd.jaccard_for_pairs(
            _docs200, _dd.minhash_lsh_candidates(_docs200)
        )
    )
    _run_to_completion(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .limit(200)
        .selectExpr(
            "vec_id",
            "aggregate(transform(embedding, x -> CAST(round(x * 1000000.0)"
            " AS BIGINT)), 0L, (a, x) -> a + x) AS _s",
        )
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="cardinalsin-bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, sf_dir)

    # Write path first: measured in a quiet JVM, not after the whole suite.
    write_path = _bench_write_path(spark, sf_dir)
    _between_groups(spark)

    # Head calibration probes: fixed-cost work in the same quiet JVM the
    # write path saw; the tail run (after the suite) closes the bracket.
    calib_head = _calibration(spark, sf_dir)
    _between_groups(spark)

    # SPARK_GRAFT_BENCH_REPEATS > 1 records the per-query MEDIAN of N
    # back-to-back runs (VERDICT r8 item 6: single-pass timings on
    # local[32] carry a ±15-20% machine band that round-over-round
    # comparisons then chase). The driver's per-round run stays at the
    # default 1 (same wall-clock budget as every prior round); the
    # builder's re-anchor run uses 3 and the medians land in
    # BENCH_MEDIANS.json so BENCH_DETAIL.json remains the single-pass
    # artifact the driver overwrites.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
    timings: dict[str, float] = {}
    prev_group: str | None = None
    registry = q.queries()
    import statistics

    for name in _bench_sequence(registry):
        fn = registry[name]
        group = _group_of(name)
        if prev_group is not None and group != prev_group:
            _between_groups(spark)
        prev_group = group
        runs = []
        for _ in range(repeats):
            if name in CACHE_NAMESAKES:
                _evict_index_cache(CACHE_NAMESAKES[name])
            start = time.perf_counter()
            _run_to_completion(fn(spark, sf_dir))
            runs.append(time.perf_counter() - start)
        timings[name] = round(statistics.median(runs), 4)

    _between_groups(spark)
    calib_tail = _calibration(spark, sf_dir)
    # streaming micro-bench LAST: after the tail calibration, so neither
    # the suite nor the calibration bracket sees its state-store work
    streaming_micro = _bench_streaming_micro(spark, sf_dir)
    head_total = sum(calib_head.values())
    calib = {
        "head": calib_head,
        "tail": calib_tail,
        # >1 means the JVM got slower over the suite (or the machine is
        # loaded); divide a round's total by `head_sec` vs a reference
        # round's to separate environment drift from plan regressions
        "drift": round(sum(calib_tail.values()) / head_total, 3)
        if head_total
        else None,
        "head_sec": round(head_total, 4),
    }

    total = round(sum(timings.values()), 4)
    detail = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeats": repeats,
        "write_path": write_path,
        "write_path_position": "pre-suite",
        "calibration": calib,
        "streaming_micro": streaming_micro,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    detail_name = "BENCH_MEDIANS.json" if repeats > 1 else "BENCH_DETAIL.json"
    try:
        with open(os.path.join(here, detail_name), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass

    print(_compact_line(detail))
    return 0


# FIXED per-query print set (OPTIMIZATION r15, VERDICT r14 item 6): the
# slowest-first retention made ~20 queries "drop" from / "appear" in the
# printed line every round purely because OTHER queries' timings moved,
# so PERF's round-over-round diff cried wolf. The printed set is now the
# exact key set of the r14 driver line (the 69 slowest as of r14) —
# every run prints the same keys, so consecutive runs and consecutive
# ROUNDS compare like with like. ADDITIONS-ONLY: future rounds may
# append newly-expensive queries, never remove (the driver contract
# forbids dropping printed entries). The full 200-query map is always in
# BENCH_DETAIL.json and the `value` total always covers every query.
BENCH_PRINT_ANCHORS = [
    'docs_clean_corpus', 'docs_cms_heavy_hitters', 'docs_contamination',
    'docs_crossdup', 'docs_edit_distance', 'docs_gopher_repetition',
    'docs_kmv_setops', 'docs_lang_id', 'docs_minhash_pairs',
    'docs_ngram_jaccard', 'docs_pack_shards', 'docs_quality_filter',
    'docs_rare_words', 'docs_simhash', 'docs_simhash_pairs',
    'docs_span_dedup', 'docs_tfidf_topterms', 'docs_winnow',
    'emb_centroids', 'emb_cosine_lsh', 'emb_cosine_topk',
    'emb_hamming_recall', 'emb_ivf_recall', 'emb_ivf_topk',
    'emb_ivfpq_recall', 'emb_ivfpq_residual_topk', 'emb_ivfpq_topk',
    'emb_knn_classify', 'emb_mmr_rerank', 'emb_near_dup',
    'flagship_minute_p99', 'maint_l0_plan', 'maint_rollup_rate_routed',
    'maint_rollup_routed', 'maint_sketch_quantile_routed',
    'promql_binary_ratio', 'promql_delta_faithful',
    'promql_histogram_fraction', 'promql_histogram_quantile',
    'promql_idelta', 'promql_predict_linear', 'promql_quantile_routed',
    'promql_rate_extrapolated', 'promql_set_or', 'sql_rollup',
    'tpch_q1', 'tpch_q19ish', 'tpch_q21ish',
    'tpch_q3ish', 'tpch_q4ish', 'tpch_q5ish',
    'tpch_q7ish', 'tpch_q8ish', 'ts_bloom_join',
    'ts_cusum', 'ts_deriv', 'ts_ewma',
    'ts_gap_stats', 'ts_holt_winters', 'ts_irate_faithful',
    'ts_lttb', 'ts_outliers', 'ts_predict_linear',
    'ts_rate_extrapolated', 'ts_rate_faithful', 'ts_session_incidents',
    'ts_sessionize', 'ts_value_quartiles', 'ts_winsorize',
]


def _compact_line(detail: dict) -> str:
    """One JSON line under OUTPUT_BUDGET chars: 2-decimal timings for the
    FIXED anchor set (stable round-over-round key set), full map in
    BENCH_DETAIL.json. A line that overflows the stdout budget raises
    instead of dropping anchors: the printed key set must never shrink
    silently (with 2-decimal values the 69-anchor line sits comfortably
    under it; the detail file is written before this runs)."""
    timings = detail["queries"]
    anchors = [n for n in BENCH_PRINT_ANCHORS if n in timings]
    payload = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "queries": {k: round(timings[k], 2) for k in sorted(anchors)},
        "n_queries": len(timings),
        "queries_omitted": len(timings) - len(anchors),
        "detail": "BENCH_DETAIL.json",
        "sf": detail["sf"],
        "write_path": detail["write_path"],
        "calib": {
            k: detail["calibration"][k]
            for k in ("head_sec", "drift")
            if detail.get("calibration")
        },
    }
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > OUTPUT_BUDGET:
        raise ValueError(
            f"bench line is {len(line)} chars, over the {OUTPUT_BUDGET}-char "
            f"stdout budget with {len(anchors)} anchors; shorten the printed "
            "fields rather than drop anchors"
        )
    return line


def _bench_streaming_micro(spark, sf_dir: str) -> dict:
    """Streaming stateful-op throughput (OPTIMIZATION r15, VERDICT r14
    item 9 — the 9 stateful twins had no timed surface at all): events →
    metrics chunk files on disk → file-source stream (availableNow,
    maxFilesPerTrigger=2 ⇒ two micro-batches) → stateful op → noop sink,
    rows/s per op. Three ops span the state shapes: watermarked dedup
    (dropDuplicatesWithinWatermark), gap sessionization
    (applyInPandasWithState, per-key scalar state), and the quantile
    sketch (applyInPandasWithState, per-key slot-count state — the
    continuous-aggregation op). Results go in the DETAIL json only (the
    printed line's budget is spoken for); runs AFTER the tail
    calibration so it cannot perturb the query suite's timings."""
    import shutil
    import tempfile

    from cardinalsin_spark.schema import value_expr
    from cardinalsin_spark.sources.ingest import normalize_to_metrics
    from cardinalsin_spark.sources.tables import load_table
    from cardinalsin_spark.streaming.live import (
        read_metrics_stream,
        streaming_dedup,
        streaming_quantile_sketch,
        streaming_sessionize,
    )

    base = tempfile.mkdtemp(prefix="bench_stream_")
    out: dict[str, dict] = {}
    try:
        ev = load_table(spark, sf_dir, "events")
        m = normalize_to_metrics(
            ev, ts_col="ts_ns", name_col="event_type", value_col="value"
        )
        chunks = os.path.join(base, "chunks")
        m.repartition(4).write.mode("overwrite").parquet(chunks)
        n = m.count()
        ops = {
            "dedup": lambda s: streaming_dedup(s),
            "sessionize": lambda s: streaming_sessionize(
                s, gap_seconds=1800
            ),
            "quantile_sketch": lambda s: streaming_quantile_sketch(
                s.withColumn("value", value_expr()), step_seconds=3600
            ),
        }
        for name, mk in ops.items():
            sdf = read_metrics_stream(
                spark, chunks, max_files_per_trigger=2
            )
            ck = os.path.join(base, f"ckpt_{name}")
            start = time.perf_counter()
            q = (
                mk(sdf)
                .writeStream.format("noop")
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            q.stop()
            elapsed = time.perf_counter() - start
            out[name] = {
                "rows": n,
                "sec": round(elapsed, 4),
                "rows_per_sec": round(n / elapsed, 1) if elapsed else None,
            }
    except Exception as e:  # never fail the bench over the micro surface
        out["error"] = {"detail": str(e)[:200]}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def _bench_write_path(spark, sf_dir: str) -> dict:
    """Write-path throughput (BASELINE.md's headline metric): events →
    metrics normalize → partitioned sorted ZSTD write. One untimed warm-up
    write precedes the measured one so codegen/committer setup cost doesn't
    land in the throughput number. Uses granularity="auto": at sf0.1 the
    100k events span 720 hour partitions (~140 rows each), and writing 720
    directories measures the filesystem committer, not the engine — auto
    drops to date granularity below 10k rows/hour, exactly as an ingest
    job should (the reference targets 250-500 MB files). The granularity
    used is reported in the result."""
    import shutil
    import tempfile

    from cardinalsin_spark.sources.ingest import normalize_to_metrics, write_metrics
    from cardinalsin_spark.sources.tables import load_table

    out_dir = tempfile.mkdtemp(prefix="bench_write_")
    try:
        ev = load_table(spark, sf_dir, "events")
        n = ev.count()
        m = normalize_to_metrics(
            ev, ts_col="ts_ns", name_col="event_type", value_col="value",
            label_cols={"user": "user_id"},
        )
        write_metrics(
            m.limit(1000), os.path.join(out_dir, "warmup"), mode="overwrite",
            granularity="auto",
        )
        start = time.perf_counter()
        gran = write_metrics(
            m, os.path.join(out_dir, "metrics"), mode="overwrite",
            granularity="auto",
        )
        elapsed = time.perf_counter() - start
        return {
            "rows": n,
            "sec": round(elapsed, 4),
            "rows_per_sec": round(n / elapsed, 1),
            "granularity": gran,
        }
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
