"""Approximate-quantile continuous aggregates (log-bucketed sketch).

The exact-moment rollups (``operators.compaction.downsample``) serve
sum/avg/min/max/count/counters, but a quantile needs the sample
DISTRIBUTION — the one shape the moment tier can never recompose (the
reference hits the same wall: its ``histogram_quantile`` tier only
covers metrics instrumented as `le`-bucket families,
``api/query/prometheus_api.rs:998-1012``). This module closes that gap
for ARBITRARY numeric series with a DDSketch-style log-bucketed count
sketch (Masson et al., VLDB'19 — the idea behind TimescaleDB's
``percentile_agg``/uddsketch): per (bucket, series), one count per
log-scale slot, giving quantile estimates with a RELATIVE error bound
``alpha`` under arbitrary merging.

Representation — long format, not maps: one row per (bucket, *series,
qslot) with an integer count, exactly the shape of the `le`-histogram
rollups, so merging is ``groupBy().sum()`` (counts add — cascading
tiers is EXACT relative to the fine sketch, zero error growth, unlike
centroid-based sketches) and the quantile is one window cumsum. The
slot encoding is order-preserving in the VALUE domain so the cumsum
walks values ascending:

* ``v > 0`` → slot ``+OFFSET + k`` where ``k = ceil(ln v / ln γ)``
  (``v ∈ (γ^(k−1), γ^k]``), γ = (1+α)/(1−α);
* ``v == 0`` → slot ``0``;
* ``v < 0`` → slot ``−OFFSET − k(|v|)`` (larger magnitude → smaller
  slot, mirroring the value order).

The per-slot estimate ``±2·γ^k/(γ+1)`` is the midpoint minimizing the
relative error, ``|est − v|/|v| ≤ α`` for every v in the slot.

Determinism: ``F.log``/``F.pow`` are libm calls, so this tier follows
the exp-histogram rule (SCALE.md "Determinism at scale") — pytest-
checked error bounds and bit-equal routed-vs-raw-built parity on one
platform, no cross-engine value-hash oracle. The bit-equality works
because the ROUTED path and the raw fallback build the *same counts*:
``quantile_approx`` over raw samples sketches the window with the same
slot function, so serving from a sketch rollup is exact *with respect
to the sketch semantics* — the same contract every other rollup door
keeps.

Scale shape: rows per (bucket, series) ≈ distinct occupied slots ≤
log_γ(dynamic range) (~3.5k slots for alpha=0.01 across the full
double range; tens in practice), mergeable with one hash aggregation —
a 90-day p99 dashboard over raw gauges reads slot-count rows instead
of raw samples, for metrics never instrumented as histograms.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# slot offset separating the negative / zero / positive regions; |k| is
# bounded by ln(DBL_MAX)/ln(gamma) ≈ 709/ln(γ), far under 2^40 for any
# sane alpha (alpha ≥ 1e-9 → |k| ≤ ~7·10^11... use 2^50 for headroom)
_OFFSET = 1 << 50


def _gamma(alpha: float) -> float:
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


# dedicated sentinel slots for ±Inf, beyond any finite slot (|k| is
# bounded by ln(DBL_MAX)/ln γ, far under 2^62 − _OFFSET) — Prometheus
# sample values CAN be ±Inf (division results), and without sentinels
# log(Inf)=Inf would overflow the long add and invert the value order
_INF_SLOT = 1 << 62

# NULL/NaN samples keep a dedicated slot BELOW every value slot (r13
# review finding): they are excluded from every quantile rank walk
# (``sketch_quantile`` and the SQL door filter it), but their counts
# keep the (bucket, series) key present — so the sketch is a COMPLETE
# downsample whose DISTINCT label sets equal the raw table's, the same
# all-rows property the moment tier gets from count(lit(1)). Without
# it, a series whose in-range samples are all value-less (the OTLP
# source emits NaN for those) would vanish from sketch-served
# label_values/series/DISTINCT while raw and rollups keep it.
NULL_SLOT = -(1 << 62) - 1


def quantile_sketch_slot(value_col, alpha: float):
    """Order-preserving slot index for one value. NULL for NULL and NaN
    input (NaN samples are excluded from the distribution, like NULLs —
    guarded here too because Spark's NaN compares greater than any
    number and would otherwise fall into the v > 0 branch)."""
    ln_gamma = math.log(_gamma(alpha))
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    k_pos = F.ceil(F.log(v) / F.lit(ln_gamma)).cast("long")
    k_neg = F.ceil(F.log(-v) / F.lit(ln_gamma)).cast("long")
    return (
        F.when(F.isnan(v), F.lit(None).cast("long"))
        .when(v == F.lit(float("inf")), F.lit(_INF_SLOT))
        .when(v == F.lit(float("-inf")), F.lit(-_INF_SLOT))
        .when(v > 0, F.lit(_OFFSET) + k_pos)
        .when(v < 0, F.lit(-_OFFSET) - k_neg)
        .when(v == 0, F.lit(0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
    )


def quantile_sketch_estimate(slot_col, alpha: float):
    """The value estimate for a slot (midpoint minimizing relative
    error): ``±2·γ^k/(γ+1)``, 0.0 for the zero slot. Callers must
    filter ``NULL_SLOT`` rows before estimating (every rank walk in
    this module does) — the sentinel is a key-presence marker, not a
    value."""
    g = _gamma(alpha)
    s = slot_col if not isinstance(slot_col, str) else F.col(slot_col)
    k_pos = (s - F.lit(_OFFSET)).cast("double")
    k_neg = (-s - F.lit(_OFFSET)).cast("double")
    scale = F.lit(2.0 * 1.0 / (g + 1.0))
    return (
        F.when(s == F.lit(_INF_SLOT), F.lit(float("inf")))
        .when(s == F.lit(-_INF_SLOT), F.lit(float("-inf")))
        .when(s > 0, scale * F.pow(F.lit(g), k_pos))
        .when(s < 0, -scale * F.pow(F.lit(g), k_neg))
        .otherwise(F.lit(0.0))
    )


def downsample_quantile_sketch(
    df: DataFrame,
    step_seconds: int,
    series_cols: list[str],
    alpha: float = 0.01,
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Time-bucketed quantile sketch: one (bucket, *series, qslot,
    qcount) row per occupied log-scale slot. NULL and NaN values count
    under the dedicated ``NULL_SLOT`` — excluded from every quantile
    rank walk (quantiles are over the sample distribution, like
    ``percentile``; the OTLP source emits NaN for value-less points)
    but kept in the row set, so the sketch is a COMPLETE downsample
    (every raw (bucket, series) key exists — the DISTINCT-serving
    property); ±Inf samples keep dedicated extreme slots so rank
    semantics hold.

    One hash aggregation; output rows are slot-counts, not samples."""
    from cardinalsin_spark.functions.core import time_bucket

    slot = F.coalesce(
        quantile_sketch_slot(F.col(value_col), alpha), F.lit(NULL_SLOT)
    )
    return (
        df.groupBy(
            time_bucket(ts_col, step_seconds).alias("bucket"),
            *[F.col(c) for c in series_cols],
            slot.alias("qslot"),
        )
        .agg(F.count(F.lit(1)).alias("qcount"))
        .orderBy("bucket", *series_cols, "qslot")
    )


def coarsen_quantile_sketch(
    sketch: DataFrame,
    step_seconds: int,
    series_cols: list[str],
) -> DataFrame:
    """Re-bucket a sketch to a coarser resolution — the cascade step.
    EXACT relative to the fine sketch (slot counts add), so a 5m → 1h →
    1d pyramid serves the same estimates as a direct sketch of raw at
    any tier; bit-equal whenever the fine resolution divides the coarse
    one (the ``downsample_moments`` contract)."""
    from cardinalsin_spark.functions.core import time_bucket

    return (
        sketch.groupBy(
            time_bucket("bucket", step_seconds).alias("bucket"),
            *[F.col(c) for c in series_cols],
            F.col("qslot"),
        )
        .agg(F.sum("qcount").alias("qcount"))
        .orderBy("bucket", *series_cols, "qslot")
    )


def refresh_quantile_sketch(
    spark,
    base,
    sketch_root: str,
    resolution_s: int,
    series_cols: list[str],
    alpha: float = 0.01,
    ts_col: str = "timestamp",
    value_col: str = "value",
    transform=None,
    transform_complete: bool = False,
    transform_canonical: bool = False,
    target_files: int = 1,
    retries: int = 5,
    from_sketch: bool = False,
) -> int:
    """Incremental refresh of a quantile-sketch continuous aggregate —
    the sketch twin of ``operators.rollup.refresh_rollup``, and simpler:
    slot counts ADD, so the incremental combine is one
    ``groupBy().sum()`` over the touched (bucket, series, slot) rows,
    with no counter-moment ordering proofs.

    Same refresh modes, same crash-safe CAS discipline (the sketch is a
    snapshot table; each commit records ``rollup_base_version`` /
    ``rollup_resolution_s`` / ``rollup_base_root`` — the SAME manifest
    keys as moment rollups, so the engine's chain-aware freshness guard
    (``_rollup_chain_state``) works unchanged — plus ``sketch_alpha``,
    which ``attach_quantile_sketch`` loud-checks: serving a
    different-α sketch would silently change the error bound):

    * bootstrap — full sketch of the base head, committed as v0;
    * no-op — base head already folded;
    * incremental (append-only diff) — sketch the CDC delta, sum with
      the current counts of the touched keys only, file-pruned
      ``merge_upsert``;
    * rebuild — the diff removed files (compaction/retention), or
      ``vacuum`` dropped the last fold point's manifest: counts cannot be
      subtracted, re-sketch the head.

    ``transform`` follows ``refresh_rollup``'s completeness covenant
    (ADVICE r12): the manifest records ``rollup_complete`` — True when
    no transform was used, else the caller-declared
    ``transform_complete`` (pass True only for row-preserving reshapes;
    the engine excludes incomplete sketches from transparent serving).

    ``from_sketch=True`` declares the base is ITSELF a quantile-sketch
    table (the hierarchical cascade, see :func:`cascade_quantile_sketch`):
    the fold becomes :func:`coarsen_quantile_sketch` — slot counts add,
    so the cascade is EXACT relative to the fine sketch and raw data is
    never touched; ``ts_col``/``value_col``/``transform`` are rejected
    (a sketch base has no sample rows to shape).

    Returns the sketch table's new (or unchanged) version."""
    import os

    if resolution_s <= 0:
        raise ValueError(f"resolution must be positive, got {resolution_s}")
    _gamma(alpha)  # validates alpha
    base_head = base.current_version()
    if base_head is None:
        raise FileNotFoundError("base table has no snapshots to sketch")
    if from_sketch:
        if transform is not None:
            raise ValueError(
                "from_sketch=True folds slot counts — a transform has "
                "no sample rows to act on"
            )
        if ts_col != "timestamp" or value_col != "value":
            # the docstring promises these are rejected, not silently
            # ignored (r13 review finding) — a caller passing them has
            # mis-targeted the cascade
            raise ValueError(
                "from_sketch=True folds slot counts — ts_col/value_col "
                "have no sample columns to point at"
            )
        fine_man = base.manifest(base_head)
        fine_res = fine_man.get("rollup_resolution_s")
        if fine_res is None:
            raise ValueError(
                f"{base.root} carries no rollup_resolution_s (not a "
                "refresh_quantile_sketch table?)"
            )
        if resolution_s % int(fine_res):
            raise ValueError(
                f"coarse resolution {resolution_s}s must be a multiple "
                f"of the fine sketch's {fine_res}s (a fine bucket must "
                "land wholly inside one coarse bucket)"
            )
        fine_alpha = fine_man.get("sketch_alpha")
        if fine_alpha is not None and float(fine_alpha) != float(alpha):
            raise ValueError(
                f"fine sketch at {base.root} was built with alpha="
                f"{fine_alpha}; a cascade at alpha={alpha} would mix "
                "error bounds — rebuild from raw instead"
            )
    shape = transform if transform is not None else (lambda df: df)

    # NOTE: no value-exactness stamp here (r14 review): the stamp
    # exists to guard sum/avg HAVING recomposition from moment rollups;
    # the sketch estimator never recomposes sums, no serving door reads
    # the stamp from a sketch manifest, and computing it would cost a
    # base scan per bootstrap/rebuild for a write-only key.

    def _sketch(df: DataFrame) -> DataFrame:
        if from_sketch:
            return coarsen_quantile_sketch(df, resolution_s, series_cols)
        return downsample_quantile_sketch(
            shape(df), resolution_s, series_cols, alpha,
            ts_col=ts_col, value_col=value_col,
        )

    # the completeness covenant inherits down cascades: a coarse tier
    # folded from an incomplete fine tier is itself incomplete however
    # clean its own fold is (r13 review finding — a cascade must never
    # launder the flag away)
    base_complete = bool(
        (fine_man if from_sketch else base.manifest(base_head)).get(
            "rollup_complete", True
        )
    )
    extra = {
        "rollup_base_version": base_head,
        "rollup_resolution_s": int(resolution_s),
        "rollup_base_root": os.path.abspath(base.root),
        "sketch_alpha": float(alpha),
        # this sketch retains NULL/NaN counts under NULL_SLOT — the
        # complete-downsample property the metadata/DISTINCT doors
        # require. The property INHERITS down cascades (a coarse tier
        # folded from a pre-sentinel fine tier lacks the NULL-only
        # keys) and, like the covenants, is sticky across incremental
        # refreshes — only a rebuild/bootstrap that re-sketches the
        # full head can (re)establish it (r13 second-review finding)
        "sketch_null_slot": (
            True
            if not from_sketch
            else bool(fine_man.get("sketch_null_slot", False))
        ),
        "rollup_complete": base_complete
        and (transform is None or bool(transform_complete)),
        # union-safety shaping convention — see refresh_rollup (the
        # engine's sketch union arm applies the canonical value reshape
        # to the delta; a custom transform must refuse union serving)
        "rollup_transform": (
            "none"
            if transform is None
            else ("canonical" if transform_canonical else "custom")
        ),
    }
    from cardinalsin_spark.sources.snapshots import SnapshotCatalog

    sk = SnapshotCatalog(sketch_root)
    keys = ["bucket", *series_cols, "qslot"]

    def _attempt() -> int:
        head = sk.current_version()
        if head is None:
            os.makedirs(sketch_root, exist_ok=True)
            return sk._rewrite_and_commit(
                _sketch(base.read(spark, base_head)), None, target_files,
                "bucket", extra=extra,
            )
        man = sk.manifest(head)
        last_res = man.get("rollup_resolution_s")
        if last_res is not None and int(last_res) != int(resolution_s):
            raise ValueError(
                f"sketch at {sketch_root} has resolution {last_res}s; "
                f"refusing to refresh at {resolution_s}s"
            )
        last_alpha = man.get("sketch_alpha")
        if last_alpha is not None and float(last_alpha) != float(alpha):
            raise ValueError(
                f"sketch at {sketch_root} was built with alpha="
                f"{last_alpha}; refusing to refresh at alpha={alpha} — "
                "slots from different error bounds must never mix"
            )
        last = man.get("rollup_base_version")
        if last is not None and last >= base_head:
            return head  # no-op (or a concurrent refresh already won)
        # completeness is sticky across INCREMENTAL refreshes (rows a
        # past filtering transform dropped stay missing); the rebuild/
        # bootstrap arms re-sketch the full head and stamp fresh
        sticky_complete = extra["rollup_complete"] and bool(
            man.get("rollup_complete", True)
        )
        # the shaping convention is sticky the same way: once any
        # refresh folded custom-shaped rows in, the table stays
        # union-unsafe until a rebuild re-shapes the full head
        sticky_transform = (
            "custom"
            if man.get("rollup_transform") == "custom"
            or extra["rollup_transform"] == "custom"
            else extra["rollup_transform"]
        )
        # pre-sentinel history keeps the table out of the DISTINCT
        # doors until a rebuild re-sketches it with NULL_SLOT rows
        sticky_null_slot = extra["sketch_null_slot"] and bool(
            man.get("sketch_null_slot", False)
        )
        if base.rewritten_since(last, base_head):
            # rewrite-shaped base commit, or a fold point vacuum dropped:
            # counts cannot be subtracted
            return sk._rewrite_and_commit(
                _sketch(base.read(spark, base_head)), head, target_files,
                "bucket", extra=extra,
            )
        partial = _sketch(base.read_changes(spark, last, base_head))
        current = sk.read(spark, head)
        touched = current.join(
            partial.select(*keys).distinct(), keys, "left_semi"
        )
        combined = (
            touched.unionByName(partial)
            .groupBy(*[F.col(k) for k in keys])
            .agg(F.sum("qcount").alias("qcount"))
        )
        return sk._merge_upsert_once(
            spark,
            combined,
            key_cols=keys,
            ts_col="bucket",
            target_files=target_files,
            prune_files=True,
            extra={
                **extra,
                "rollup_complete": sticky_complete,
                "rollup_transform": sticky_transform,
                "sketch_null_slot": sticky_null_slot,
            },
            head=head,
        )

    return sk._retrying(_attempt, retries)


def cascade_quantile_sketch(
    spark,
    fine_root: str,
    coarse_root: str,
    resolution_s: int,
    series_cols: list[str],
    alpha: float = 0.01,
    target_files: int = 1,
    retries: int = 5,
) -> int:
    """Hierarchical quantile-sketch tiers (5m → 1h → 1d), the sketch
    twin of ``operators.rollup.cascade_rollup``: maintain a COARSE
    sketch from a FINER sketch's slot-count rows, never rescanning raw.
    EXACT relative to the fine sketch — slot counts add, so every tier
    serves the same estimates as a direct sketch of raw (unlike
    centroid-based sketches, zero error growth per tier).

    Refresh state chains exactly like moment cascades: the coarse
    manifest records the fine sketch's version/path as
    ``rollup_base_version``/``rollup_base_root``, which the engine's
    chain-aware freshness guard walks unchanged; ``sketch_alpha`` must
    match the fine tier's (mixing error bounds is loud-rejected).

    Cost shape at 100 TB: the fine sketch's incremental merges are
    rewrite-shaped diffs, so a cascade refresh usually rebuilds — but
    the rebuild READS THE FINE SKETCH (~10⁵ slot rows for a year at
    5m), never raw samples."""
    from cardinalsin_spark.sources.snapshots import SnapshotCatalog

    fine = SnapshotCatalog(fine_root)
    if fine.current_version() is None:
        raise FileNotFoundError(
            f"cascade_quantile_sketch: no snapshots at {fine_root}"
        )
    return refresh_quantile_sketch(
        spark,
        fine,
        coarse_root,
        resolution_s,
        series_cols,
        alpha=alpha,
        target_files=target_files,
        retries=retries,
        from_sketch=True,
    )


def sketch_quantile(
    sketch: DataFrame,
    q: float,
    group_cols: list[str],
    alpha: float = 0.01,
    bucket_col: str = "bucket",
) -> DataFrame:
    """The q-quantile estimate per (bucket, *group) from slot counts:
    nearest-rank ``target = floor(q·(n−1)) + 1`` (the 1-indexed sample
    percentile convention), found by one window cumsum over the
    value-ordered slots. Relative error ≤ alpha vs the exact sample
    quantile. Output: ``(bucket_col, *group_cols, value)``."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    # NULL/NaN sample counts keep the keys present for DISTINCT serving
    # but are NOT part of the distribution — drop before the rank walk
    sketch = sketch.filter(F.col("qslot") != F.lit(NULL_SLOT))
    keys = [F.col(bucket_col), *[F.col(c) for c in group_cols]]
    w = (
        Window.partitionBy(*keys)
        .orderBy("qslot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = Window.partitionBy(*keys)
    cum = F.sum("qcount").over(w)
    n = F.sum("qcount").over(total)
    target = F.floor(F.lit(q) * (n - F.lit(1))).cast("long") + F.lit(1)
    hit = sketch.withColumn("__cum", cum).withColumn("__t", target).filter(
        F.col("__cum") >= F.col("__t")
    )
    # the FIRST slot whose cumulative count reaches the target rank —
    # MIN over the (order-preserving) slots, one hash agg after the
    # window
    return (
        hit.groupBy(*keys)
        .agg(F.min("qslot").alias("__slot"))
        .withColumn("value", quantile_sketch_estimate(F.col("__slot"), alpha))
        .drop("__slot")
        .orderBy(bucket_col, *group_cols)
    )
