"""The engine facade: one object exposing every reference entry point,
Spark-first.

Reference query lifecycle (SURVEY §3): HTTP SQL (entry A) and PromQL
(entry B) both funnel into ``QueryNode::query`` — prune chunks, pin,
register the ``metrics`` table, execute via DataFusion, optionally dedup
(``query/mod.rs:158-241``). Streaming (entry D) adds a live tail
(``query/streaming.rs:73-202``). Here the prune/pin/register steps collapse
into Spark-native partition pruning over a registered parquet path, so the
lifecycle is: register once → ``spark.sql`` / transpiled PromQL → optional
dedup — with the adaptive-index stats collector recording usage on the way
(accounting-only, like the reference's, ``query/engine.rs:259-300``).

Output formats mirror ``api/query/sql_http.rs:76-206`` (json / arrow / csv).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from cardinalsin_spark.adaptive import (
    IndexLifecycleManager,
    QueryStatsCollector,
)
from cardinalsin_spark.operators.promql import promql_instant, promql_range
from cardinalsin_spark.rate_limit import Denial, RateLimiter, TenantQuota
from cardinalsin_spark.schema import label_columns
from cardinalsin_spark.sources.ingest import (
    normalize_to_metrics,
    register_metrics,
    write_metrics,
    written_schema,
)


class QuotaExceeded(Exception):
    """A tenant request was denied by the rate limiter; carries the
    Denial with its retry-after hint (the reference returns this as an
    HTTP 429, ``rate_limit.rs:142-160``)."""

    def __init__(self, denial: Denial):
        super().__init__(
            f"quota exceeded: {denial.reason}"
            f" (limit={denial.limit}, retry_after_ms={denial.retry_after_ms})"
        )
        self.denial = denial


class CardinalSin:
    """A user of the reference switches here: same operations, Spark plans.

    >>> cs = CardinalSin(spark, "/data/metrics")
    >>> cs.sql("SELECT count(*) FROM metrics WHERE service = 'api'")
    >>> cs.promql_range("sum by (service) (rate(cpu[5m]))", start, end, step)
    """

    def __init__(
        self,
        spark: SparkSession,
        metrics_path: str | None = None,
        view_name: str = "metrics",
        dedup: bool = False,
    ):
        self.spark = spark
        self.metrics_path = metrics_path
        self.view_name = view_name
        self.dedup = dedup
        self.metrics = register_metrics(spark, metrics_path or "", view_name)
        self.collector = QueryStatsCollector(
            ["metric_name", *label_columns(self.metrics.schema)]
        )
        # opt-in subsystems (enable_* below)
        self.rate_limiter: RateLimiter | None = None
        self.lifecycle: IndexLifecycleManager | None = None
        # attached continuous aggregates:
        # (resolution_s, path, subsecond, fresh_mode)
        self._attached_rollups: list[tuple[int, str, bool, str]] = []
        # (resolution_s, path, subsecond, alpha, fresh) sketch tier
        self._attached_sketches: list[
            tuple[int, str, bool, float, str]
        ] = []
        # (step_s, start_s, end_s) per bucketed range query, both doors —
        # the rollup advisor's input (bounded; see _log_range)
        self._range_log: list[
            tuple[int, float, float, str, float | None]
        ] = []
        # loud routing contract for the sketch-quantile doors
        # (quantile_approx / promql_range approx_quantile_alpha): the
        # most recent call's {"routed", "alpha", "path", "resolution_s",
        # "reason"} — see _sketch_quantile_grid
        self.last_quantile_route: dict | None = None

    # -- opt-in subsystems ----------------------------------------------------

    def enable_rate_limiting(
        self, default_quota: TenantQuota | None = None
    ) -> RateLimiter:
        """Per-tenant admission control on sql/promql/ingest calls that
        pass a ``tenant_id`` (ref ``rate_limit.rs``). Note: DataFrames are
        lazy, so the concurrency slot is held only while the plan is built;
        a service running blocking executions should hold
        ``rate_limiter.query_slot(tenant)`` around its collect instead."""
        self.rate_limiter = RateLimiter(default_quota)
        return self.rate_limiter

    def enable_index_lifecycle(self, **kwargs) -> IndexLifecycleManager:
        """Trial-index accounting (Invisible→Visible→Deprecated) fed by
        every query this facade runs: each recorded query's filter columns
        bump would-have-helped/usage counters (ref
        ``adaptive_index/lifecycle.rs``)."""
        self.lifecycle = IndexLifecycleManager(**kwargs)
        return self.lifecycle

    def _admit_query(self, tenant_id: str | None) -> None:
        if tenant_id is not None and self.rate_limiter is not None:
            denial = self.rate_limiter.check_query(tenant_id)
            if denial is not None:
                raise QuotaExceeded(denial)
            # lazy plans: planning is the admitted unit (see docstring)
            self.rate_limiter.query_completed(tenant_id)

    def _record(self, df: DataFrame) -> None:
        self.collector.record(df)
        if self.lifecycle is not None:
            self.lifecycle.record_query(df, self.collector.columns)

    def _log_range(
        self,
        step_s: int,
        start_s: float,
        end_s: float,
        kind: str = "moment",
        alpha: float | None = None,
    ) -> None:
        """Workload log feeding :meth:`recommend_rollups` — bounded so a
        long-lived session cannot grow driver memory (10k entries ≈ a
        dashboard fleet's refresh cycle many times over).  ``kind`` tags
        the tier that would serve the query (VERDICT r12 item 7):
        ``moment`` (sum/avg/min/max/count recomposition), ``quantile``
        (needs a quantile-sketch tier; ``alpha`` is the requested error
        bound, None = caller did not specify → advisor default), or
        ``histogram`` (an `le`-keyed rollup serves it)."""
        if len(self._range_log) < 10_000:
            self._range_log.append(
                (int(step_s), float(start_s), float(end_s), kind, alpha)
            )

    def recommend_rollups(
        self, subsecond: bool = False, top: int = 5
    ) -> list[dict]:
        """The adaptive-indexing idea applied to continuous aggregates:
        the reference ships downsample resolution as STATIC config
        (``compactor/mod.rs:70-91``) and its adaptive_index module
        recommends indexes from query patterns (``adaptive_index/``) —
        this does the same for rollups.  From the session's recorded
        bucketed range queries (both promql doors + the SQL door's
        grammar matches), rank candidate resolutions by how many
        recorded queries a rollup at that resolution would serve
        (``rollup_covers``: resolution divides the step AND the bounds
        tile whole buckets).  Candidates are the distinct observed steps
        plus their GCD (the finest resolution serving everything whose
        bounds align).  Each entry reports the resolution, how many of
        the recorded queries it serves, and whether it is already
        attached — feed the winner to ``refresh_rollup`` +
        ``attach_rollup``.  ``subsecond`` must match the data's
        timestamp precision (same flag as ``attach_rollup``).

        Entries are kind-tagged (VERDICT r12 item 7) — the advisor
        recommends the tier that can actually serve each workload shape,
        up to ``top`` entries per kind:

        * ``moment`` — classic downsample rollup for sum/avg/min/max/
          count shapes (``refresh_rollup`` + ``attach_rollup``);
        * ``quantile_sketch`` — quantile-shaped queries
          (``quantile_approx``, SQL ``approx_percentile`` over
          ``time_bucket``) need a slot-count sketch tier; entries carry
          the requested ``alpha`` (an unspecified α logs as the 0.01
          default) and feed ``refresh_quantile_sketch`` +
          ``attach_quantile_sketch``;
        * ``histogram`` — ``histogram_quantile``/``histogram_fraction``
          range queries are served by an `le`-keyed MOMENT rollup
          (``attach_rollup`` over the bucket-series downsample), so the
          recommendation is a rollup resolution tagged for the
          histogram tier.

        CASCADE recommendations (VERDICT r13 item 5): when one kind's
        workload holds MULTIPLE observed steps with divisor structure
        (5m and 1h and 1d), independent single-tier recommendations
        would each refresh from raw — a ``cascade_rollup`` /
        ``cascade_quantile_sketch`` pyramid serves every step while the
        coarse tiers refresh from the FINE tier (index-sized reads,
        never raw).  The advisor therefore also emits one
        ``kind='cascade'`` entry per kind whose served steps form a
        divisor chain of length ≥ 2: ``resolutions_s`` is the
        fine→coarse chain, ``base_kind`` the tier type, ``tiers``
        carries per-tier serves/already_attached (so acting on the
        pyramid flips them one by one), and ``already_attached`` is the
        AND over tiers.  Feed it to :meth:`apply_recommendation`."""
        import math

        from cardinalsin_spark.operators.rollup import rollup_covers

        if not self._range_log:
            return []
        by_kind: dict[tuple[str, float | None], list] = {}
        for s, a, b, kind, alpha in self._range_log:
            key = (
                ("quantile_sketch", 0.01 if alpha is None else alpha)
                if kind == "quantile"
                else (kind, None)
            )
            by_kind.setdefault(key, []).append((s, a, b))
        # a tier attached with subsecond=True serves integer-second
        # bounds too (micros-exact alignment subsumes them), but a
        # sub=False tier can never serve micros-bounds queries — count
        # it attached only when the workload's precision allows it
        # (r13 third-review finding: the mismatch read already_attached
        # True while the advised queries kept scanning raw)
        attached_rollups = {
            r
            for r, _, sub, _ in self._attached_rollups
            if sub or not subsecond
        }
        attached_sketches = {
            (r, al)
            for r, _, sub, al, _ in self._attached_sketches
            if sub or not subsecond
        }
        out = []
        for (kind, alpha), entries in by_kind.items():
            candidates = {s for s, _, _ in entries}
            g = 0
            for s, _, _ in entries:
                g = math.gcd(g, s)
            if g:
                candidates.add(g)
            ranked = []
            for r in sorted(candidates):
                served = sum(
                    1
                    for s, a, b in entries
                    if rollup_covers(r, a, b, s, subsecond)
                )
                if not served:
                    continue
                rec = {
                    "kind": kind,
                    "resolution_s": r,
                    "serves": served,
                    "of": len(entries),
                    "already_attached": (
                        (r, alpha) in attached_sketches
                        if kind == "quantile_sketch"
                        else r in attached_rollups
                    ),
                }
                if kind == "quantile_sketch":
                    rec["alpha"] = alpha
                ranked.append(rec)
            ranked.sort(key=lambda d: (-d["serves"], -d["resolution_s"]))
            out.extend(ranked[:top])
            # cascade detection: the observed steps that serve their own
            # queries exactly (resolution == step), chained greedily from
            # the finest by divisibility — 300|3600|86400 chains, 300 and
            # 420 do not.  ≥2 tiers → recommend the pyramid.
            own_steps = sorted(
                {
                    s
                    for s, a, b in entries
                    if rollup_covers(s, a, b, s, subsecond)
                }
            )
            chain: list[int] = []
            for s in own_steps:
                if not chain or s % chain[-1] == 0:
                    chain.append(s)
            if len(chain) >= 2:
                tiers = []
                for r in chain:
                    tiers.append(
                        {
                            "resolution_s": r,
                            "serves": sum(
                                1
                                for s, a, b in entries
                                if rollup_covers(r, a, b, s, subsecond)
                            ),
                            "already_attached": (
                                (r, alpha) in attached_sketches
                                if kind == "quantile_sketch"
                                else r in attached_rollups
                            ),
                        }
                    )
                cas = {
                    "kind": "cascade",
                    "base_kind": kind,
                    "resolutions_s": chain,
                    # a query counts served if SOME tier covers it
                    "serves": sum(
                        1
                        for s, a, b in entries
                        if any(
                            rollup_covers(r, a, b, s, subsecond)
                            for r in chain
                        )
                    ),
                    "of": len(entries),
                    "tiers": tiers,
                    "already_attached": all(
                        t["already_attached"] for t in tiers
                    ),
                    # sort keys below expect resolution_s: the chain's
                    # fine tier (what a refresh would materialize first)
                    "resolution_s": chain[0],
                }
                if kind == "quantile_sketch":
                    cas["alpha"] = alpha
                out.append(cas)
        # cascades rank AFTER single tiers at equal serves: a single
        # fine tier answers the same queries; the pyramid's win is
        # refresh cost, so it is the upgrade suggestion, not the first
        # answer
        out.sort(
            key=lambda d: (
                -d["serves"],
                d["kind"] == "cascade",
                d["kind"],
                -d["resolution_s"],
            )
        )
        return out

    def apply_recommendation(
        self,
        rec: dict,
        root: str,
        series_cols: list[str] | None = None,
        target_files: int = 1,
        subsecond: bool = False,
    ) -> int:
        """Act on one :meth:`recommend_rollups` entry: materialize the
        recommended tier at ``root`` (``refresh_rollup`` /
        ``refresh_quantile_sketch`` with the engine's canonical value
        reshape) and attach it for transparent serving — the full
        adaptive loop the reference's static downsample config never
        closes (``compactor/mod.rs:70-91`` + ``adaptive_index/``).
        ``moment`` and ``histogram`` recommendations both materialize a
        moment rollup (the histogram tier serves from `le`-keyed moment
        rows — the default series columns include every label, `le`
        included); ``quantile_sketch`` materializes a sketch at the
        recommended (resolution, α). Returns the new table version;
        re-ask :meth:`recommend_rollups` afterwards and
        ``already_attached`` flips.  ``subsecond`` MUST match the flag
        the recommendations were computed with (r13 second-review
        finding: attaching a tier without it over microsecond data
        leaves the advised queries on the raw path while
        already_attached reads True — a silent dead end).

        ``cascade`` recommendations (VERDICT r13 item 5) materialize
        the whole pyramid under ``root``: the fine tier refreshes from
        the metrics table at ``root/r<fine>``, every coarser tier
        cascades from its predecessor at ``root/r<res>``
        (``cascade_rollup`` / ``cascade_quantile_sketch`` — coarse
        refreshes read the fine tier, never raw), and all tiers attach;
        returns the COARSEST tier's version."""
        kind = rec.get("kind", "moment")

        def _attach_rollup_once(p: str, res: int) -> None:
            # re-applying a recommendation (already_attached tiers, a
            # partial manual apply at the same root) must not append
            # duplicate attach entries — each would re-read its manifest
            # and rebuild union frames per query (r14 review)
            if not any(
                rr == res and pp == p
                for rr, pp, _, _ in self._attached_rollups
            ):
                self.attach_rollup(p, res, subsecond=subsecond)

        def _attach_sketch_once(p: str, res: int, a: float) -> None:
            if not any(
                rr == res and pp == p and aa == a
                for rr, pp, _, aa, _ in self._attached_sketches
            ):
                self.attach_quantile_sketch(
                    p, res, alpha=a, subsecond=subsecond
                )

        if kind == "cascade":
            import os as _os

            from cardinalsin_spark.operators.quantile_sketch import (
                cascade_quantile_sketch,
            )
            from cardinalsin_spark.operators.rollup import cascade_rollup
            from cardinalsin_spark.schema import label_columns

            chain = [int(x) for x in rec["resolutions_s"]]
            if len(chain) < 2 or any(
                b <= a or b % a for a, b in zip(chain, chain[1:])
            ):
                # strictly increasing (r14 review: equal adjacent
                # resolutions would collapse two roots onto one path and
                # cascade a tier FROM ITSELF, double-counting moments)
                raise ValueError(
                    f"cascade resolutions must be a strictly increasing "
                    f"divisor chain, got {chain}"
                )
            base_kind = rec.get("base_kind", "moment")
            cols = (
                series_cols
                if series_cols is not None
                else ["metric_name", *label_columns(self.metrics.schema)]
            )
            roots = {r_: _os.path.join(root, f"r{r_}") for r_ in chain}
            alpha = float(rec.get("alpha", 0.01))
            if base_kind == "quantile_sketch":
                v = self.refresh_quantile_sketch(
                    roots[chain[0]], chain[0], series_cols=series_cols,
                    alpha=alpha, target_files=target_files,
                )
                _attach_sketch_once(roots[chain[0]], chain[0], alpha)
                for fine_r, coarse_r in zip(chain, chain[1:]):
                    v = cascade_quantile_sketch(
                        self.spark, roots[fine_r], roots[coarse_r],
                        coarse_r, cols, alpha=alpha,
                        target_files=target_files,
                    )
                    _attach_sketch_once(roots[coarse_r], coarse_r, alpha)
                return v
            if base_kind in ("moment", "histogram"):
                v = self.refresh_rollup(
                    roots[chain[0]], chain[0], series_cols=series_cols,
                    target_files=target_files,
                )
                _attach_rollup_once(roots[chain[0]], chain[0])
                for fine_r, coarse_r in zip(chain, chain[1:]):
                    v = cascade_rollup(
                        self.spark, roots[fine_r], roots[coarse_r],
                        coarse_r, cols, target_files=target_files,
                    )
                    _attach_rollup_once(roots[coarse_r], coarse_r)
                return v
            raise ValueError(f"unknown cascade base_kind: {base_kind!r}")
        r = int(rec["resolution_s"])
        if kind == "quantile_sketch":
            v = self.refresh_quantile_sketch(
                root,
                r,
                series_cols=series_cols,
                alpha=float(rec.get("alpha", 0.01)),
                target_files=target_files,
            )
            _attach_sketch_once(root, r, float(rec.get("alpha", 0.01)))
            return v
        if kind in ("moment", "histogram"):
            v = self.refresh_rollup(
                root, r, series_cols=series_cols, target_files=target_files
            )
            _attach_rollup_once(root, r)
            return v
        raise ValueError(f"unknown recommendation kind: {kind!r}")


    @staticmethod
    def _has_comparison(promql: str) -> bool:
        """True when the query text carries a comparison operator outside
        label matchers / range brackets — the shape whose ROW MEMBERSHIP
        depends on recomposed float values sitting exactly on a
        threshold (``sum(m) > X`` emits or drops whole rows).  Detection
        is deliberately over-broad (any cmp token at any nesting level):
        over-gating only costs routing performance on comparison
        queries, never correctness."""
        import re as _re

        stripped = _re.sub(r"\{[^}]*\}|\[[^\]]*\]", "", promql)
        return bool(_re.search(r"==|!=|>=|<=|>|<", stripped))

    def _route_rollups_for(self, promql: str) -> list[tuple[int, object, bool]]:
        """The PromQL doors' routing list: like ``_route_rollups``, but
        comparison-shaped queries only route through rollups whose
        manifest proves the value-exactness stamp, and never through
        fresh='union' frames — the same guard the SQL door applies to
        sum/avg HAVING (r14 review: a series sitting exactly on a
        ``sum(m) > X`` threshold would otherwise be included by one plan
        and excluded by the other on non-integer-exact values).

        Scope note: ``topk``/``bottomk`` (and SQL ORDER-BY + LIMIT)
        share the threshold CLASS — the k-th rank boundary sits on
        recomposed floats — but stay doctrine-documented rather than
        gated: a rank flip needs two DISTINCT series within float-drift
        of each other (raw engines disagree on such near-ties too, and
        exact ties break deterministically by series name), whereas a
        cmp/HAVING literal is a fixed line a single drifted value
        crosses alone.  On integer-exact data both are exact; gate
        top-k on the stamp too if that doctrine ever tightens."""
        if not self._has_comparison(promql):
            return self._route_rollups()
        return [
            (r, target, sub)
            for r, target, sub, _path, flags in self._route_rollups(
                with_paths=True
            )
            if isinstance(target, str) and flags[3]
        ]

    # -- write path ----------------------------------------------------------

    def ingest(
        self,
        df: DataFrame,
        ts_col: str,
        name_col: str,
        value_col: str,
        label_cols: dict[str, str] | None = None,
        tenant_id: str | None = None,
        n_bytes: int = 0,
        snapshot: bool = False,
    ) -> None:
        """Normalize → partitioned sorted write → re-register (the
        reference's flush+catalog-register, ``ingester/mod.rs:633-714``).
        With rate limiting enabled and a ``tenant_id``, the write is gated
        on the tenant's RPS and (when ``n_bytes`` is passed — the caller
        knows its payload size) bytes/s buckets."""
        if not self.metrics_path:
            raise ValueError("engine opened without a metrics_path")
        if tenant_id is not None and self.rate_limiter is not None:
            denial = self.rate_limiter.check_write(tenant_id, n_bytes)
            if denial is not None:
                raise QuotaExceeded(denial)
        m = normalize_to_metrics(df, ts_col, name_col, value_col, label_cols)
        granularity = write_metrics(m, self.metrics_path)
        import os

        if snapshot or os.path.isdir(os.path.join(self.metrics_path, "_snapshots")):
            # the reference's flush → CAS-catalog-register second step
            # (ingester/mod.rs:633-714 → metadata/s3.rs:181-260): new data
            # files enter the versioned manifest so pinned readers stay
            # consistent across this write. Once the table carries a
            # manifest log, EVERY ingest registers — register_metrics
            # routes reads through the head manifest from then on, so an
            # uncommitted write would be invisible to the engine's view.
            # The schema written rides along: the manifest stores it, and
            # register_metrics then reads no footer.
            self.snapshot_catalog().commit_new_files(
                schema=written_schema(m, granularity)
            )
        self.metrics = register_metrics(
            self.spark, self.metrics_path, self.view_name
        )
        # schema-on-ingest: newly arrived labels become stats candidates
        self.collector.columns = ["metric_name", *label_columns(self.metrics.schema)]

    def snapshot_catalog(self):
        """The metrics table's snapshot manifest log (SURVEY §1.4's
        ETag-CAS catalog, Spark-side): versioned file lists with link-CAS
        commits, pinned reads, vacuum GC grace. See sources/snapshots.py."""
        from cardinalsin_spark.sources.snapshots import SnapshotCatalog

        if not self.metrics_path:
            raise ValueError("engine opened without a metrics_path")
        return SnapshotCatalog(self.metrics_path)

    def read_snapshot(self, version: int | None = None) -> DataFrame:
        """Read the metrics table pinned to a manifest version (None =
        head) — repeatable results while compaction/ingest commit newer
        versions."""
        return self.snapshot_catalog().read(self.spark, version)

    def read_snapshot_as_of(self, ts_ns: int) -> DataFrame:
        """Read the metrics table as it was at ``ts_ns`` (time travel on
        commit stamps — the latest version committed at or before T)."""
        return self.snapshot_catalog().read_as_of(self.spark, ts_ns)

    def point_lookup(self, metric_name: str) -> DataFrame:
        """Equality point-lookup on the metrics table. When the bloom
        sidecar exists (``jobs bloom`` / the adaptive recommender's
        ``build_chunk_bloom`` spec), only candidate files scan — the
        planner-level file skip the reference README promises from its
        (disabled) per-chunk blooms; otherwise a plain filtered read
        (Catalyst still pushes the predicate to every footer). Both paths
        see exactly the file set ``engine.sql`` sees: the sidecar probes
        against the head manifest when the table is snapshot-managed
        (``ChunkBloomIndex._current_files``), and the no-sidecar fallback
        routes through ``read_snapshot`` — a root directory listing would
        skip underscore-hidden ``_data-v*`` compaction output and read
        stale pre-compaction files instead."""
        import os as _os

        from cardinalsin_spark.sources.chunk_bloom import (
            _SIDECAR,
            ChunkBloomIndex,
        )

        if not self.metrics_path:
            raise ValueError("engine opened without a metrics_path")
        from pyspark.sql import functions as _F

        if _os.path.exists(_os.path.join(self.metrics_path, _SIDECAR)):
            idx = ChunkBloomIndex.open(self.metrics_path)
            if idx.column == "metric_name":
                return idx.read_matching(self.spark, metric_name)
        if _os.path.isdir(_os.path.join(self.metrics_path, "_snapshots")):
            return self.read_snapshot().filter(
                _F.col("metric_name") == _F.lit(metric_name)
            )
        from cardinalsin_spark.sources.tables import read_parquet_meta_cached

        return read_parquet_meta_cached(self.spark, self.metrics_path).filter(
            _F.col("metric_name") == _F.lit(metric_name)
        )

    def snapshot_stream_sink(self):
        """``foreachBatch`` function that lands micro-batches into the
        metrics table with one idempotent CAS snapshot per batch
        (``streaming.snapshot_ingest_sink`` bound to this engine's
        table root)."""
        from cardinalsin_spark.streaming import snapshot_ingest_sink

        if not self.metrics_path:
            raise ValueError("engine opened without a metrics_path")
        return snapshot_ingest_sink(self.metrics_path)

    # -- entry point A: SQL pass-through -------------------------------------

    def sql(self, query: str, tenant_id: str | None = None) -> DataFrame:
        """Full SQL surface over the registered ``metrics`` view — the
        everything-passes-through property of ``query/engine.rs:252-256``.
        Dedup on (timestamp, metric_name) applies when a shard-split-style
        dual write is active (``query/dedup.rs:22-113``).

        Two additions over raw pass-through:

        * ``time_bucket(col, step)`` macro (TimescaleDB-style) expands to
          the canonical epoch-floor bucket expression;
        * transparent rollup routing (VERDICT r10 missing #3): the
          canonical bucketed-aggregation shape (see
          ``operators.rollup.match_bucket_agg_sql``) and the
          DISTINCT-labels shape (``match_distinct_sql`` — the SQL twin
          of ``label_values``/``series``) serve from an attached rollup
          when step/bounds align and the rollup carries every referenced
          column — same ``rollup_covers`` rule and freshness guard as
          the promql doors; ``approx_percentile``/``percentile_approx``
          over a ``time_bucket`` grid serves from an attached quantile
          sketch (``_maybe_route_sql_sketch`` — approximation-
          transparent, see its docstring); anything else passes through
          to Spark untouched."""
        self._admit_query(tenant_id)
        from cardinalsin_spark.operators.rollup import expand_time_bucket_sql

        out = self._maybe_route_sql_rollup(query)
        if out is None:
            out = self._maybe_route_sql_sketch(query)
        if out is None:
            out = self._maybe_route_sql_distinct(query)
        if out is None:
            out = self.spark.sql(expand_time_bucket_sql(query))
        self._record(out)
        if self.dedup:
            out = out.dropDuplicates(
                [c for c in ("timestamp", "metric_name") if c in out.columns]
            )
        return out

    # -- entry point B: PromQL ------------------------------------------------

    def _promql_frame(self, at_version: int | None = None) -> DataFrame:
        """Wide table + the canonical coalesced value read
        (``api/query/prometheus_api.rs:26-27``). ``at_version`` pins the
        read to a snapshot manifest — repeatable PromQL evaluation while
        compaction/ingest commit newer versions."""
        from cardinalsin_spark.schema import value_expr

        base = (
            self.read_snapshot(at_version)
            if at_version is not None
            else self.metrics
        )
        return base.withColumn("value", value_expr())

    def promql_instant(
        self,
        promql: str,
        time_s: float | None = None,
        tenant_id: str | None = None,
        at_version: int | None = None,
    ) -> DataFrame:
        """`/api/v1/query` — epoch-seconds evaluation time, like the
        Prometheus HTTP API. ``at_version`` evaluates against a pinned
        snapshot (time travel for queries). Attached rollups serve
        aligned moment ``*_over_time`` windows (the alert-rule shape);
        snapshot-pinned evaluation never routes."""
        self._admit_query(tenant_id)
        out = promql_instant(
            self._promql_frame(at_version), promql, time_s,
            rollups=(
                self._route_rollups_for(promql)
                if at_version is None
                else None
            ),
        )
        self._record(out)
        return out

    def promql_range(
        self,
        promql: str,
        start_s: float,
        end_s: float,
        step_s: int,
        faithful: bool = True,
        tenant_id: str | None = None,
        at_version: int | None = None,
        approx_quantile_alpha: float | None = None,
    ) -> DataFrame:
        """`/api/v1/query_range` — epoch-seconds range + step.

        ``faithful=True`` (default) evaluates rate/irate/increase/deriv/
        idelta/resets/changes/predict_linear with real PromQL semantics
        (counter-reset-aware, last-two-samples, least-squares) — the
        reference degrades all of these to (MAX−MIN)/range or AVG
        (``api/query/prometheus_api.rs:969-1012``); pass ``False`` for its
        reference-compatible degradation.

        Rollup routing: when ``attach_rollup`` registered continuous
        aggregates, a plain selector / sum-avg-min-max-count aggregation
        whose step is a multiple of a rollup's resolution and whose bounds
        cover whole rollup buckets serves from the rollup parquet (bucket
        count ≈ rows scanned) instead of raw samples — transparent, exact
        by the moment-recomposition rules, raw-path fallback otherwise.
        Snapshot-pinned evaluation (``at_version``) never routes: the
        rollup tracks the live table, not the pinned manifest.

        ``approx_quantile_alpha`` (VERDICT r13 item 2) — OPT-IN
        approximate evaluation for ``quantile_over_time(q, m[w])``: the
        grid's per-step quantiles are answered with the DDSketch-style
        estimator at the given relative-error bound, served from a
        matching attached quantile sketch when one aligns (α equality,
        resolution divides the step, buckets tile the bounds), else from
        a sketch built over the raw samples — BIT-EQUAL arms, so opting
        in fixes the SEMANTICS (estimate within α of the exact sample
        quantile) independent of what gets scanned.  This is never
        silent: the default ``None`` keeps the exact PromQL evaluation;
        passing a value for any other query shape raises (the flag would
        be meaningless); ``self.last_quantile_route`` records which arm
        answered.  The window must equal the step (tumbling grid — the
        raw door's window==bucket convention), matching the reference's
        only quantile escape hatch of pre-instrumented ``le`` families
        (``api/query/prometheus_api.rs:998-1012``) without requiring
        histogram instrumentation."""
        self._admit_query(tenant_id)
        if approx_quantile_alpha is not None:
            return self._promql_range_approx_quantile(
                promql,
                start_s,
                end_s,
                step_s,
                float(approx_quantile_alpha),
                at_version,
            )
        # advisor tag: histogram_quantile/fraction shapes are served by
        # the `le`-keyed rollup tier, not plain moment recomposition
        self._log_range(
            step_s,
            start_s,
            end_s,
            kind=(
                "histogram"
                if "histogram_quantile(" in promql
                or "histogram_fraction(" in promql
                else "moment"
            ),
        )
        out = promql_range(
            self._promql_frame(at_version), promql, start_s, end_s, step_s,
            faithful=faithful,
            rollups=(
                self._route_rollups_for(promql)
                if at_version is None
                else None
            ),
        )
        self._record(out)
        return out

    def _promql_range_approx_quantile(
        self,
        promql: str,
        start_s: float,
        end_s: float,
        step_s: int,
        alpha: float,
        at_version: int | None,
    ) -> DataFrame:
        """The ``approx_quantile_alpha`` arm of :meth:`promql_range` —
        loud-rejects every shape the sketch estimator has no semantics
        for, then evaluates the ``quantile_over_time`` grid through
        ``_sketch_quantile_grid`` (the same code path as
        ``quantile_approx``, so routing transparency, freshness doctrine
        and the ``last_quantile_route`` contract are shared verbatim).
        Output matches the raw door's shape: ``(time_bucket,
        metric_name, *labels, value)`` ordered by bucket."""
        from cardinalsin_spark.operators.promql import parse_promql

        parsed = parse_promql(promql)
        if parsed.function != "quantile_over_time" or parsed.q is None:
            raise ValueError(
                "approx_quantile_alpha only applies to plain "
                "quantile_over_time(q, selector[w]) range queries — "
                f"got {promql!r}; drop the flag for exact evaluation"
            )
        if parsed.aggregation is not None:
            raise ValueError(
                "approx_quantile_alpha does not support an outer "
                "aggregation around quantile_over_time — aggregate the "
                "returned per-series estimates instead"
            )
        if parsed.offset_seconds or parsed.at_seconds is not None:
            raise ValueError(
                "approx_quantile_alpha does not support offset/@ "
                "modifiers — shift start_s/end_s instead"
            )
        if at_version is not None:
            raise ValueError(
                "approx_quantile_alpha cannot combine with at_version — "
                "attached sketches track the live table, not a pinned "
                "manifest; drop the flag for exact pinned evaluation"
            )
        if parsed.range_seconds != step_s:
            raise ValueError(
                "approx_quantile_alpha requires window == step "
                f"(tumbling grid; got window={parsed.range_seconds}s, "
                f"step={step_s}s) — the raw range door evaluates "
                "*_over_time per bucket, and the sketch route answers "
                "exactly that question"
            )
        # advisor input AFTER validation (ADVICE r13 #4 convention)
        self._log_range(step_s, start_s, end_s, kind="quantile", alpha=alpha)
        out = self._sketch_quantile_grid(
            parsed, parsed.q, start_s, end_s, step_s, alpha
        )
        self._record(out)
        return out

    def refresh_rollup(
        self,
        rollup_root: str,
        resolution_s: int,
        series_cols: list[str] | None = None,
        target_files: int = 1,
        retries: int = 5,
    ) -> int:
        """Incrementally refresh (or bootstrap) a continuous-aggregate
        rollup of this engine's snapshot-managed metrics table
        (``operators.rollup.refresh_rollup``): only rows committed since
        the last refresh fold in; rewrite-shaped base commits trigger a
        rebuild. Pair with ``attach_rollup(rollup_root, resolution_s)``
        for transparent serving — the route reads the rollup through its
        manifest AND checks its ``rollup_base_version`` against the base
        head per query, so a rollup lagging the base never silently
        serves stale aggregates (it falls back to raw, or serves
        rollup ∪ delta under ``fresh='union'``)."""
        from cardinalsin_spark.operators.rollup import refresh_rollup
        from cardinalsin_spark.schema import label_columns, value_expr

        cols = (
            series_cols
            if series_cols is not None
            else ["metric_name", *label_columns(self.metrics.schema)]
        )
        return refresh_rollup(
            self.spark,
            self.snapshot_catalog(),
            rollup_root,
            resolution_s,
            cols,
            ts_col="timestamp",
            value_col="value",
            transform=lambda df: df.withColumn("value", value_expr()),
            # the value reshape adds a column, never drops a row — the
            # rollup stays a complete downsample (serving-door covenant)
            # — and it IS the canonical reshape the union delta arm
            # applies, so union serving stays exact
            transform_complete=True,
            transform_canonical=True,
            target_files=target_files,
            retries=retries,
        )

    def refresh_quantile_sketch(
        self,
        sketch_root: str,
        resolution_s: int,
        series_cols: list[str] | None = None,
        alpha: float = 0.01,
        target_files: int = 1,
        retries: int = 5,
    ) -> int:
        """Sketch twin of :meth:`refresh_rollup`: incrementally refresh
        (or bootstrap) a quantile-sketch continuous aggregate of this
        engine's snapshot-managed metrics table
        (``operators.quantile_sketch.refresh_quantile_sketch``) with the
        engine's canonical value reshape. Pair with
        ``attach_quantile_sketch(sketch_root, resolution_s, alpha)`` for
        transparent ``quantile_approx`` serving under the same freshness
        doctrine (stale → raw, or sketch ∪ delta under
        ``fresh='union'``)."""
        from cardinalsin_spark.operators.quantile_sketch import (
            refresh_quantile_sketch,
        )
        from cardinalsin_spark.schema import label_columns, value_expr

        cols = (
            series_cols
            if series_cols is not None
            else ["metric_name", *label_columns(self.metrics.schema)]
        )
        return refresh_quantile_sketch(
            self.spark,
            self.snapshot_catalog(),
            sketch_root,
            resolution_s,
            cols,
            alpha=alpha,
            transform=lambda df: df.withColumn("value", value_expr()),
            # canonical value reshape: row-preserving AND union-safe
            transform_complete=True,
            transform_canonical=True,
            target_files=target_files,
            retries=retries,
        )

    def attach_rollup(
        self,
        path: str,
        resolution_s: int | None = None,
        subsecond: bool = False,
        fresh: str = "fallback",
    ) -> "CardinalSin":
        """Register a ``jobs downsample`` / ``refresh_rollup`` output
        (bucket + series labels + avg/min/max/sum/count moments) as a
        continuous aggregate serving ``promql_range`` — the read side of
        the reference's downsample config (``compactor/mod.rs:70-91``),
        which it never implemented. ``resolution_s=None`` reads the
        resolution from the rollup's own manifest
        (``rollup_resolution_s``, stamped by every refresh) — loud when
        the rollup carries no manifest to ask. ``subsecond=True``
        declares the base data carries sub-second timestamps, switching
        bound-coverage checks to the exact-micro rule
        (``operators.rollup.rollup_covers``).

        ``fresh`` is the staleness policy against a snapshot-managed base
        (VERDICT r10: a rollup must never silently serve
        as-of-last-refresh answers while non-aligned steps see newer
        rows):

        * ``"fallback"`` (default) — route only when the rollup's
          ``rollup_base_version`` equals the base head; otherwise the raw
          arm scans base (bit-equal by construction, just slower);
        * ``"union"`` — real-time continuous aggregate: a stale-but-
          append-only rollup serves as rollup rows ∪ the downsampled
          ``read_changes`` delta (exact — moments add across the union);
          rewrite-shaped divergence still falls back to raw;
        * ``"static"`` — no freshness check; the caller asserts the base
          is not being written (e.g. an immutable archive table).

        Over a NON-snapshot base there is no version to compare, so every
        mode behaves like ``"static"`` (documented limitation: appends to
        a bare parquet dir are invisible to any freshness rule).

        COMPLETENESS COVENANT (ADVICE r12): every serving door —
        bucket-agg, counter, DISTINCT/metadata, SQL — assumes the rollup
        is a complete, unfiltered downsample of the base. A
        refresh-maintained rollup whose manifest records
        ``rollup_complete=false`` (a transform the refresher did not
        declare row-preserving) is excluded from transparent serving
        (``rollup_status`` says why); a plain-parquet rollup built from
        a filtered base cannot be detected — keeping it faithful is the
        caller's responsibility."""
        from cardinalsin_spark.sources.snapshots import (
            SnapshotCatalog,
            snapshot_managed,
        )

        if fresh not in ("fallback", "union", "static"):
            raise ValueError(
                f"fresh must be 'fallback', 'union' or 'static', got {fresh!r}"
            )
        def _manifest_or_none(p: str) -> dict | None:
            # a rollup dir with an existing-but-empty _snapshots log
            # must get the explanatory ValueError below, not a raw
            # FileNotFoundError from the manifest read (ADVICE r11)
            if not snapshot_managed(p):
                return None
            try:
                return SnapshotCatalog(p).manifest()
            except FileNotFoundError:
                return None

        man = _manifest_or_none(path)  # one read serves both checks below
        if resolution_s is None:
            if man is None:
                raise ValueError(
                    f"attach_rollup({path!r}): no resolution_s given and "
                    "the rollup carries no manifest to read it from "
                    "(plain downsample parquet needs an explicit "
                    "resolution)"
                )
            resolution_s = man.get("rollup_resolution_s")
            if resolution_s is None:
                raise ValueError(
                    f"attach_rollup({path!r}): manifest has no "
                    "rollup_resolution_s (not a refresh_rollup table?)"
                )
        if resolution_s <= 0:
            raise ValueError(f"resolution must be positive, got {resolution_s}")
        if (
            fresh != "static"
            and self.metrics_path
            and snapshot_managed(self.metrics_path)
            and (man is None or man.get("rollup_base_version") is None)
        ):
            raise ValueError(
                f"attach_rollup({path!r}): the base table is snapshot-"
                "managed but this rollup carries no rollup_base_version "
                "to check freshness against — maintain it with "
                "refresh_rollup, or pass fresh='static' to assert the "
                "base is not being written"
            )
        self._attached_rollups.append(
            (int(resolution_s), path, bool(subsecond), fresh)
        )
        return self

    def _maybe_route_sql_rollup(self, query: str) -> DataFrame | None:
        """SQL-door twin of the promql rollup route: parse the canonical
        bucketed-aggregation shape, pick the coarsest fresh rollup whose
        resolution divides the step and whose buckets tile the closed
        bounds, and recompose from the downsample moments. None = not
        that shape / nothing aligned / stale — caller runs raw SQL."""
        from cardinalsin_spark.functions.core import time_bucket
        from cardinalsin_spark.operators.rollup import (
            match_bucket_agg_sql,
            rollup_covers,
            rollup_moment,
        )
        from cardinalsin_spark.sources.snapshots import read_table_auto

        spec = match_bucket_agg_sql(query, view=self.view_name)
        if spec is None or spec["ts_col"] != "timestamp":
            return None
        # log BEFORE the attached check: the advisor's whole point is
        # seeing the bucketed workload a session runs with NO rollup yet
        self._log_range(spec["step_s"], spec["start_s"], spec["end_s"])
        if not self._attached_rollups:
            return None
        if any(val != "value" for _, val, _ in spec["aggs"]):
            return None
        if any(val != "value" for _, val, _, _ in spec["having"]):
            return None
        # never-guess: group/filter columns must exist in the METRICS
        # view — a rollup-internal name (bucket, sum_value) must not
        # route where the raw SQL would raise AnalysisException
        if not {
            *spec["group_cols"],
            *[c for c, _ in spec["filters"]],
        }.issubset(set(self.metrics.columns)):
            return None
        need = {
            "bucket",
            *spec["group_cols"],
            *[c for c, _ in spec["filters"]],
        }
        # sum/avg HAVING thresholds gate on the value-exactness stamp
        # (VERDICT r13 item 3): float addition is reorder-sensitive, so
        # on non-integer-exact values a group sitting exactly at the
        # threshold can be included by one plan and excluded by the
        # other — row-MEMBERSHIP drift, not the documented value drift.
        # Only a manifest PROVING every folded value integer-exact
        # (``rollup_values_integer_exact``, stamped by refresh_rollup)
        # may route such a query; min/max/count thresholds are exact
        # either way and route regardless.  A fresh='union' target (a
        # pre-built frame, not a path) never qualifies: its delta arm
        # folds base rows committed AFTER the stamp was computed, so
        # the manifest proves nothing about them (r14 review finding).
        having_sum_avg = any(
            agg in ("sum", "avg") for agg, _, _, _ in spec["having"]
        )
        best = None
        for r, target, sub, _path, flags in self._route_rollups(
            with_paths=True
        ):
            if not rollup_covers(
                r, spec["start_s"], spec["end_s"], spec["step_s"], sub
            ):
                continue
            if having_sum_avg and (
                not isinstance(target, str) or not flags[3]
            ):
                continue
            ro = (
                read_table_auto(self.spark, target)
                if isinstance(target, str)
                else target
            )
            if need.issubset(set(ro.columns)) and (
                best is None or r > best[0]
            ):
                best = (r, ro)
        if best is None:
            return None
        ro = best[1]
        b = F.col("bucket")
        # micros-exact bounds, like the promql route (a float-seconds
        # literal near 2^31 carries representation error; int µs never)
        ro = ro.filter(
            (b >= F.timestamp_micros(F.lit(int(round(spec["start_s"] * 1e6)))))
            & (b <= F.timestamp_micros(F.lit(int(round(spec["end_s"] * 1e6)))))
        )
        for col, lits in spec["filters"]:
            # equality and IN-list share one code path ((col, [literals])
            # — isin pushes to the scan as an In filter either way)
            ro = ro.filter(F.col(col).isin(*lits))
        # HAVING conjuncts recompose from the same moments as the select
        # list; conditions over aggregates NOT selected ride along as
        # hidden columns and drop after the filter (same rows either
        # way — Spark's HAVING also evaluates on the aggregated rows).
        # Row-set exactness for sum/avg thresholds is GUARDED, not
        # documented (VERDICT r13 item 3): the candidate loop above
        # skips any rollup whose manifest does not prove the
        # value-exactness stamp (and any union-served frame), so by the
        # time a sum/avg HAVING recomposes here every folded value is
        # an integer-exact double and the partial sums equal the raw
        # sums bit-for-bit in any accumulation order — while group
        # totals stay ≤ 2⁵³, the integer-cents doctrine's side of the
        # bargain (see _folded_values_exact).
        hidden: list[str] = []
        hv_exprs = []
        conds = []
        for i, (agg, _, op, num) in enumerate(spec["having"]):
            alias = next(
                (a for ag, _, a in spec["aggs"] if ag == agg), None
            )
            if alias is None:
                alias = f"__hv{i}"
                hidden.append(alias)
                hv_exprs.append(rollup_moment(agg).alias(alias))
            lit = F.lit(float(num) if "." in num else int(num))
            c = F.col(alias)
            conds.append(
                {
                    "=": c == lit,
                    "!=": c != lit,
                    "<>": c != lit,
                    "<": c < lit,
                    "<=": c <= lit,
                    ">": c > lit,
                    ">=": c >= lit,
                }[op]
            )
        out = ro.groupBy(
            time_bucket(b, spec["step_s"]).alias(spec["bucket_alias"]),
            *[F.col(c) for c in spec["group_cols"]],
        ).agg(
            *[
                rollup_moment(agg).alias(alias)
                for agg, _, alias in spec["aggs"]
            ],
            *hv_exprs,
        )
        for cond in conds:
            out = out.filter(cond)
        if hidden:
            out = out.drop(*hidden)
        if spec["order_by"]:
            out = out.orderBy(
                *[
                    F.desc(name) if descending else F.asc(name)
                    for name, descending in spec["order_by"]
                ]
            )
        if spec["limit"] is not None:
            # grammar guarantees a total ORDER BY here, so the routed
            # top-n is the raw plan's top-n (TakeOrderedAndProject)
            out = out.limit(spec["limit"])
        return out

    @staticmethod
    def _bounds_on_grid(
        start_s: float | None, end_s: float | None, r: int, sub: bool
    ) -> bool:
        """Closed bounds sit on the rollup grid: ``start % r == 0`` and
        ``(end + 1) % r == 0`` (micros-exact when ``sub``) — the
        straddling-bucket guard shared by the DISTINCT-serving routes."""
        r_us = r * 1_000_000
        if start_s is not None:
            if sub:
                if int(round(start_s * 1e6)) % r_us:
                    return False
            elif start_s != int(start_s) or int(start_s) % r:
                return False
        if end_s is not None:
            if sub:
                if (int(round(end_s * 1e6)) + 1) % r_us:
                    return False
            elif end_s != int(end_s) or (int(end_s) + 1) % r:
                return False
        return True

    def attach_quantile_sketch(
        self,
        path: str,
        resolution_s: int,
        alpha: float = 0.01,
        subsecond: bool = False,
        fresh: str = "fallback",
    ) -> "CardinalSin":
        """Attach a log-bucketed quantile sketch
        (``downsample_quantile_sketch`` parquet, or a
        ``refresh_quantile_sketch``-maintained snapshot table) for
        ``quantile_approx`` serving.  Same freshness doctrine as
        ``attach_rollup``: a refresh-maintained sketch carries the same
        manifest keys as moment rollups, so the chain-aware guard
        applies unchanged — ``fresh='fallback'`` (default) drops a stale
        sketch from routing (raw path answers); ``fresh='union'`` serves
        a stale-but-append-only sketch as sketch rows ∪ the delta's slot
        counts (exact — counts add; VERDICT r12 item 1), and a stale
        CASCADE tier whose parent sketch chain is fresh as tier rows ∪
        the parent-delta recompute of the touched coarse buckets;
        ``fresh='static'`` asserts an immutable base. A
        manifest-recorded ``sketch_alpha`` must equal the attach
        ``alpha`` (a different error bound is a different question —
        loud-reject, never substitute)."""
        from cardinalsin_spark.sources.snapshots import (
            SnapshotCatalog,
            snapshot_managed,
        )

        if resolution_s <= 0:
            raise ValueError(f"resolution must be positive, got {resolution_s}")
        if not 0.0 < alpha < 1.0:
            raise ValueError(f"alpha must be in (0, 1), got {alpha}")
        if fresh not in ("fallback", "union", "static"):
            raise ValueError(
                f"fresh must be 'fallback', 'union' or 'static', got {fresh!r}"
            )
        man = None
        if snapshot_managed(path):
            try:
                man = SnapshotCatalog(path).manifest()
            except FileNotFoundError:
                man = None
        if man is not None and man.get("sketch_alpha") is not None:
            if float(man["sketch_alpha"]) != float(alpha):
                raise ValueError(
                    f"attach_quantile_sketch({path!r}): sketch was built "
                    f"with alpha={man['sketch_alpha']}, attach requested "
                    f"alpha={alpha} — error bounds must match exactly"
                )
        if man is not None and man.get("rollup_resolution_s") is not None:
            if int(man["rollup_resolution_s"]) != int(resolution_s):
                # a wrong declared resolution would pass rollup_covers
                # at the finer grid and serve buckets holding
                # out-of-range samples — silently-wrong counts
                raise ValueError(
                    f"attach_quantile_sketch({path!r}): sketch was built "
                    f"at {man['rollup_resolution_s']}s, attach declared "
                    f"{resolution_s}s"
                )
        if (
            fresh != "static"
            and self.metrics_path
            and snapshot_managed(self.metrics_path)
            and (man is None or man.get("rollup_base_version") is None)
        ):
            raise ValueError(
                f"attach_quantile_sketch({path!r}): the base table is "
                "snapshot-managed but this sketch carries no "
                "rollup_base_version to check freshness against — "
                "maintain it with refresh_quantile_sketch, or pass "
                "fresh='static' to assert the base is not being written"
            )
        self._attached_sketches.append(
            (int(resolution_s), path, bool(subsecond), float(alpha), fresh)
        )
        return self

    def quantile_approx(
        self,
        selector: str,
        q: float,
        start_s: float,
        end_s: float,
        step_s: int,
        alpha: float = 0.01,
    ) -> DataFrame:
        """Per-bucket q-quantile ESTIMATE (relative error ≤ alpha) for a
        plain selector — the quantile shape the exact-moment rollups can
        never recompose (quantiles need the sample distribution; the
        reference only covers metrics instrumented as `le` families).
        Serves from an attached quantile sketch whose resolution divides
        the step, whose alpha matches, and whose buckets tile the closed
        bounds (a stale sketch under ``fresh='union'`` arrives as sketch
        ∪ delta counts, or the cascade invalidation recompute — see
        ``_sketch_serving_state``); otherwise sketches the RAW samples
        at step granularity — bit-equal to the routed path (both build
        the same per-(step, slot) counts), so routing is transparent
        within the sketch semantics. Output: ``(time_bucket,
        metric_name, *labels, value)``."""
        from cardinalsin_spark.operators.promql import parse_promql

        parsed = parse_promql(selector)
        if (
            parsed.function is not None
            or parsed.aggregation is not None
            or parsed.range_seconds is not None
        ):
            raise ValueError(
                "quantile_approx takes a plain selector "
                "(metric{label=...}) — functions/aggregations/ranges "
                "have no sketch-quantile semantics"
            )
        if parsed.offset_seconds or parsed.at_seconds is not None:
            # neither arm applies modifiers here — silently ignoring
            # them would return un-shifted quantiles for valid PromQL
            raise ValueError(
                "quantile_approx does not support offset/@ modifiers — "
                "shift start_s/end_s instead"
            )
        # advisor input: quantile shapes need a sketch tier at this α.
        # Logged AFTER the modifier validation (ADVICE r13 #4): a query
        # that errors was never evaluated and must not count as servable
        # quantile workload in recommend_rollups tallies
        self._log_range(step_s, start_s, end_s, kind="quantile", alpha=alpha)
        return self._sketch_quantile_grid(
            parsed, q, start_s, end_s, step_s, alpha
        )

    def _sketch_quantile_grid(
        self,
        parsed,
        q: float,
        start_s: float,
        end_s: float,
        step_s: int,
        alpha: float,
    ) -> DataFrame:
        """The shared sketch-quantile evaluation behind
        :meth:`quantile_approx` and the PromQL door's opt-in
        ``approx_quantile_alpha`` (VERDICT r13 item 2): per-step q-quantile
        estimates for a parsed plain selector, served from the coarsest
        aligned attached sketch when one matches (α equality, resolution
        divides the step, buckets tile the closed bounds, serving state
        fresh/union-servable), else from a sketch built over the raw
        samples at step granularity — BIT-EQUAL arms (both produce the
        same per-(step, slot) counts before the same rank walk), so which
        arm ran changes scan cost, never the answer.  The loud routing
        contract: ``self.last_quantile_route`` records
        ``{"routed", "alpha", "path", "resolution_s", "reason"}`` for the
        most recent call, the introspection twin of ``sketch_status()``."""
        from cardinalsin_spark.functions.core import time_bucket
        from cardinalsin_spark.operators.promql import (
            _selector_filter,
            discover_label_columns,
        )
        from cardinalsin_spark.operators.timeseries import (
            MetricsCols as _MCols,
        )
        from cardinalsin_spark.operators.quantile_sketch import (
            downsample_quantile_sketch,
            sketch_quantile,
        )
        from cardinalsin_spark.operators.rollup import rollup_covers
        from cardinalsin_spark.schema import value_expr
        from cardinalsin_spark.sources.snapshots import (
            read_table_auto,
            snapshot_managed,
        )

        gcols = discover_label_columns(parsed)
        group = ["metric_name", *gcols]
        need = {
            "bucket", "qslot", "qcount", *group,
        } | {m.label for m in parsed.label_matchers if m.label != "__name__"}
        base_head = None
        cat = None
        if self.metrics_path and snapshot_managed(self.metrics_path):
            cat = self.snapshot_catalog()
            base_head = cat.current_version()
        best = None
        for r, path, sub, a, fresh in self._attached_sketches:
            if a != alpha:
                continue  # a different-alpha sketch answers a different
                # question — never silently substitute error bounds
            if not rollup_covers(r, start_s, end_s, step_s, sub):
                continue
            # the refresh-maintained sketch carries the same manifest
            # keys as moment rollups → the shared chain-aware freshness
            # guard applies; stale under 'union' arrives as a pre-built
            # frame (sketch ∪ delta counts, or the cascade recompute)
            target, _why = self._sketch_serving_state(
                r, path, fresh, a, base_head, cat, build=True
            )
            if target is None:
                continue
            ro = (
                read_table_auto(self.spark, target)
                if isinstance(target, str)
                else target
            )
            if need.issubset(set(ro.columns)) and (
                best is None or r > best[0]
            ):
                best = (r, ro, path, isinstance(target, str))
        if best is not None:
            self.last_quantile_route = {
                "routed": True,
                "alpha": alpha,
                "path": best[2],
                "resolution_s": best[0],
                # r14 review: a stale fresh='union' state serves a
                # pre-built frame that ALSO scans base CDC delta files —
                # the route dict must disclose that, like the status
                # doors do, or a caller using it to confirm a
                # sketch-only scan is misled
                "union": not best[3],
                "reason": (
                    "served from attached sketch"
                    if best[3]
                    else "served from attached sketch ∪ CDC delta "
                    "(fresh='union' stale state — base delta files "
                    "also scanned)"
                ),
            }
            b = F.col("bucket")
            ro = (
                best[1]
                .filter(_selector_filter(parsed, _MCols()))
                .filter(
                    (
                        b
                        >= F.timestamp_micros(
                            F.lit(int(round(start_s * 1e6)))
                        )
                    )
                    & (
                        b
                        <= F.timestamp_micros(F.lit(int(round(end_s * 1e6))))
                    )
                )
            )
            # slot counts add: re-bucket fine slots onto the step grid
            sk = (
                ro.groupBy(
                    time_bucket(b, step_s).alias("time_bucket"),
                    *[F.col(c) for c in group],
                    F.col("qslot"),
                )
                .agg(F.sum("qcount").alias("qcount"))
            )
        else:
            self.last_quantile_route = {
                "routed": False,
                "alpha": alpha,
                "path": None,
                "resolution_s": None,
                "union": False,
                "reason": (
                    "no attached sketch matched (alpha equality, "
                    "bound/step alignment, columns, freshness) — "
                    "sketched the raw samples; bit-equal, raw-scan cost"
                ),
            }
            raw = (
                self.metrics.withColumn("value", value_expr())
                .filter(_selector_filter(parsed, _MCols()))
                .filter(
                    (
                        F.col("timestamp")
                        >= F.timestamp_seconds(F.lit(start_s))
                    )
                    & (
                        F.col("timestamp")
                        <= F.timestamp_seconds(F.lit(end_s))
                    )
                )
            )
            sk = downsample_quantile_sketch(
                raw, step_s, group, alpha
            ).withColumnRenamed("bucket", "time_bucket")
        return sketch_quantile(
            sk, q, group, alpha, bucket_col="time_bucket"
        )

    def _maybe_route_sql_sketch(self, query: str) -> DataFrame | None:
        """SQL-door quantile-sketch routing (VERDICT r12 item 5):
        ``approx_percentile(value, q)`` / ``percentile_approx(value, q)``
        over a ``time_bucket`` grid (``match_bucket_quantile_sql`` — the
        same full-consumption never-guess grammar as the moment door)
        serves from an attached quantile sketch whose resolution divides
        the step and whose buckets tile the closed bounds, re-bucketing
        slot counts onto the step grid and walking the rank cumsum once
        for ALL requested quantiles.

        APPROXIMATION CONTRACT (documented, deliberate): SQL's
        ``approx_percentile`` promises an approximate quantile with no
        algorithm pinned — the routed plan answers with the sketch
        estimator (relative error ≤ the attached sketch's α), the
        unrouted plan with Spark's KLL-style estimator.  Both satisfy the
        API contract but are DIFFERENT approximations, so this door is
        the one place routing is approximation-transparent rather than
        bit-transparent; ``quantile_approx`` is the bit-transparent door
        (its raw arm builds the same sketch).  The ROW SET is exact
        either way — groups whose samples are all NULL emit a NULL
        estimate, like raw — which is why only sketches whose manifest
        proves the NULL_SLOT sentinel property (``sketch_null_slot``,
        stamped by ``refresh_quantile_sketch``) may serve this door.  One documented value edge: the sketch
        excludes NaN samples from the distribution (the percentile
        convention) while Spark's estimator sorts NaN above every
        number.  None = not that shape / nothing aligned / stale —
        caller runs raw SQL."""
        from pyspark.sql import Window

        from cardinalsin_spark.functions.core import time_bucket
        from cardinalsin_spark.operators.quantile_sketch import (
            quantile_sketch_estimate,
        )
        from cardinalsin_spark.operators.rollup import (
            match_bucket_quantile_sql,
            rollup_covers,
        )
        from cardinalsin_spark.sources.snapshots import (
            read_table_auto,
            snapshot_managed,
        )

        spec = match_bucket_quantile_sql(query, view=self.view_name)
        # same guard as the moment door (r13 review finding): the sketch
        # buckets are built over `timestamp` — a query bucketing another
        # column must never route onto them
        if spec is None or spec["ts_col"] != "timestamp":
            return None
        # advisor input first (the α the sketch should be built at is
        # unspecified at the SQL door → default), like the moment door
        self._log_range(
            spec["step_s"], spec["start_s"], spec["end_s"], kind="quantile"
        )
        if not self._attached_sketches:
            return None
        if any(val != "value" for _, val, _ in spec["quantiles"]):
            return None
        # output names must not collide with sketch-internal columns —
        # `... AS qslot` is valid raw SQL but would make the routed
        # groupBy emit two `qslot` columns and the rank-walk Window
        # raise AMBIGUOUS_REFERENCE (r13 review finding): refuse, raw
        # answers
        out_names = {
            spec["bucket_alias"],
            *spec["group_cols"],
            *[a for _, _, a in spec["quantiles"]],
        }
        if out_names & {"qslot", "qcount", "__cum", "__n"}:
            return None
        # never-guess: group/filter columns must exist in the METRICS view
        if not {
            *spec["group_cols"],
            *[c for c, _ in spec["filters"]],
        }.issubset(set(self.metrics.columns)):
            return None
        need = {
            "bucket",
            "qslot",
            "qcount",
            *spec["group_cols"],
            *[c for c, _ in spec["filters"]],
        }
        base_head = None
        cat = None
        if self.metrics_path and snapshot_managed(self.metrics_path):
            cat = self.snapshot_catalog()
            base_head = cat.current_version()
        best = None
        for r, path, sub, a, fresh in self._attached_sketches:
            if not rollup_covers(
                r, spec["start_s"], spec["end_s"], spec["step_s"], sub
            ):
                continue
            flags = self._manifest_flags(path)
            if not flags[2]:
                # r13 third-review finding: a pre-sentinel / plain-
                # parquet sketch has no NULL-count rows to prove, so an
                # all-NULL (bucket, group) would vanish from the routed
                # row set while raw SQL emits (group, NULL) — the
                # row-set exactness this door promises requires the
                # manifest-proven sentinel property (refresh-maintain
                # the sketch); never guess, raw answers
                continue
            target, _why = self._sketch_serving_state(
                r, path, fresh, a, base_head, cat, build=True, flags=flags
            )
            if target is None:
                continue
            ro = (
                read_table_auto(self.spark, target)
                if isinstance(target, str)
                else target
            )
            if need.issubset(set(ro.columns)) and (
                best is None or r > best[0]
            ):
                best = (r, ro, a)
        if best is None:
            return None
        _, ro, alpha = best
        b = F.col("bucket")
        ro = ro.filter(
            (b >= F.timestamp_micros(F.lit(int(round(spec["start_s"] * 1e6)))))
            & (b <= F.timestamp_micros(F.lit(int(round(spec["end_s"] * 1e6)))))
        )
        for col, lits in spec["filters"]:
            ro = ro.filter(F.col(col).isin(*lits))
        # NULL/NaN sample counts (the NULL_SLOT sentinel) are not part
        # of the distribution — Spark's approx_percentile ignores nulls
        # too — but their GROUPS must still appear: the raw plan emits
        # (group, NULL) for an all-NULL group, so the routed plan keeps
        # sentinel rows through the groupBy and only excludes them from
        # the rank walk (r13 second-review finding: pre-filtering
        # dropped those groups entirely — row-set divergence).
        from cardinalsin_spark.operators.quantile_sketch import NULL_SLOT

        keys = [
            F.col(spec["bucket_alias"]),
            *[F.col(c) for c in spec["group_cols"]],
        ]
        sk = ro.groupBy(
            time_bucket(b, spec["step_s"]).alias(spec["bucket_alias"]),
            *[F.col(c) for c in spec["group_cols"]],
            F.col("qslot"),
        ).agg(F.sum("qcount").alias("qcount"))
        # one window cumsum serves every requested quantile: per group,
        # the q-slot is the FIRST (min, slots are value-ordered) slot
        # whose cumulative count reaches floor(q·(n−1))+1 over the
        # NON-sentinel counts
        sample = F.when(
            F.col("qslot") != F.lit(NULL_SLOT), F.col("qcount")
        ).otherwise(F.lit(0))
        w = (
            Window.partitionBy(*keys)
            .orderBy("qslot")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sk = sk.withColumn("__cum", F.sum(sample).over(w)).withColumn(
            "__n", F.sum(sample).over(Window.partitionBy(*keys))
        )
        agg_exprs = []
        for q, _, alias in spec["quantiles"]:
            target_rank = (
                F.floor(F.lit(q) * (F.col("__n") - 1)).cast("long") + F.lit(1)
            )
            slot_q = F.min(
                F.when(
                    (F.col("__cum") >= target_rank)
                    & (F.col("qslot") != F.lit(NULL_SLOT)),
                    F.col("qslot"),
                )
            )
            # an all-NULL group has no candidate slot → NULL, exactly
            # the raw plan's NULL approx_percentile (the estimate
            # when-chain would otherwise fall through to 0.0)
            agg_exprs.append(
                F.when(
                    slot_q.isNull(), F.lit(None).cast("double")
                )
                .otherwise(quantile_sketch_estimate(slot_q, alpha))
                .alias(alias)
            )
        out = sk.groupBy(*keys).agg(*agg_exprs)
        if spec["order_by"]:
            out = out.orderBy(
                *[
                    F.desc(n) if d else F.asc(n)
                    for n, d in spec["order_by"]
                ]
            )
        if spec["limit"] is not None:
            # grammar guarantees a TOTAL order over the group columns,
            # so the routed top-n keeps exactly the raw plan's rows
            out = out.limit(spec["limit"])
        return out

    def _maybe_route_sql_distinct(self, query: str) -> DataFrame | None:
        """SQL-door twin of the metadata route: ``SELECT DISTINCT
        label_cols FROM metrics [WHERE aligned bounds + label filters]
        [ORDER BY <all selected>]`` (``match_distinct_sql``) serves from
        a fresh rollup that kept every referenced column — the DISTINCT
        sets are identical because every raw row in scope belongs to
        exactly one in-scope rollup row with the same label tuple.
        Misaligned bounds, missing columns, or staleness → None (raw)."""
        from cardinalsin_spark.operators.rollup import match_distinct_sql

        spec = match_distinct_sql(query, view=self.view_name)
        if spec is None or not (
            self._attached_rollups or self._attached_sketches
        ):
            return None
        # never-guess: every referenced column must exist in the METRICS
        # view too — otherwise a rollup-internal name (bucket, avg_value)
        # would route and return rollup internals where the raw SQL
        # raises AnalysisException
        referenced = {*spec["cols"], *[c for c, _ in spec["filters"]]}
        if not referenced.issubset(set(self.metrics.columns)):
            return None
        need = {*spec["cols"], "bucket", *[c for c, _ in spec["filters"]]}
        best = self._best_tier(
            self._route_rollups(), need, spec["start_s"], spec["end_s"]
        )
        if best is None:
            # last resort: a quantile sketch's (bucket, series) keys
            # give the identical DISTINCT set (see _maybe_route_metadata)
            best = self._best_tier(
                self._route_sketches(), need, spec["start_s"], spec["end_s"]
            )
        if best is None:
            return None
        ro = best[1]
        if spec["start_s"] is not None:
            ro = ro.filter(
                F.col("bucket")
                >= F.timestamp_micros(
                    F.lit(int(round(spec["start_s"] * 1e6)))
                )
            )
        if spec["end_s"] is not None:
            ro = ro.filter(
                F.col("bucket")
                <= F.timestamp_micros(F.lit(int(round(spec["end_s"] * 1e6))))
            )
        for col, lits in spec["filters"]:
            ro = ro.filter(F.col(col).isin(*lits))
        out = ro.select(*spec["cols"]).distinct()
        if spec["order_by"]:
            out = out.orderBy(
                *[
                    F.desc(n) if d else F.asc(n)
                    for n, d in spec["order_by"]
                ]
            )
        return out

    def _rollup_chain_state(
        self, path: str, base_head: int | None
    ) -> tuple[bool, int | None, bool, str]:
        """Walk a rollup's base chain (coarse ← fine ← … ← metrics):
        fresh iff every tier folded its parent's current head and the
        innermost tier folded the metrics head. Returns (fresh,
        direct_base_version, is_direct, reason) — direct_base_version
        is set ONLY when the rollup sits straight on the metrics table
        (a cascade tier's version numbers belong to its parent rollup's
        catalog and must never be compared against the metrics head);
        reason is a one-line human explanation for ``rollup_status``."""
        from cardinalsin_spark.sources.snapshots import (
            SnapshotCatalog,
            snapshot_managed,
        )
        import os as _os

        node = path
        for _ in range(8):  # cascade depth guard
            direct = node == path
            if not snapshot_managed(node):
                return False, None, direct, f"{node}: no snapshot manifest"
            try:
                man = SnapshotCatalog(node).manifest()
            except FileNotFoundError:
                return False, None, direct, f"{node}: manifest log empty"
            rb = man.get("rollup_base_version")
            if rb is None:
                return (
                    False, None, direct,
                    f"{node}: manifest carries no rollup_base_version",
                )
            broot = man.get("rollup_base_root")
            # realpath (not abspath) both sides: a refresh job that
            # reached the base through a symlink must not make a direct
            # rollup look like a cascade tier (ADVICE r11 — the walk
            # would then hit the metrics manifest, find no
            # rollup_base_version, and permanently mark it ineligible)
            if broot is None or _os.path.realpath(broot) == _os.path.realpath(
                self.metrics_path
            ):
                ok = rb == base_head
                why = (
                    "fresh: folded the metrics head"
                    if ok
                    else f"{node}: folded metrics v{rb}, head is v{base_head}"
                )
                return ok, rb if direct else None, direct, why
            parent = SnapshotCatalog(broot)
            ph = parent.current_version()
            if ph != rb:
                return (
                    False, None, direct,
                    f"{node}: folded parent v{rb}, parent head is v{ph}",
                )
            node = broot
        return False, None, False, "cascade chain deeper than 8 tiers"

    def rollup_status(self) -> list[dict]:
        """Freshness report for every attached rollup — the ops answer
        to "why didn't my query route?": one dict per attach with the
        resolution, staleness policy, whether the routing list currently
        includes it (``eligible`` agrees with ``_route_rollups`` by
        construction — ADVICE r11: both now ask ``_serving_state``), and
        a one-line reason (chain-aware: a cascaded tier reports which
        link lags; a union-served tier says so)."""
        from cardinalsin_spark.sources.snapshots import snapshot_managed

        base_head = None
        cat = None
        if self.metrics_path and snapshot_managed(self.metrics_path):
            cat = self.snapshot_catalog()
            base_head = cat.current_version()
        out = []
        for r, path, sub, fresh in self._attached_rollups:
            flags = self._manifest_flags(path)
            mode, why = self._serving_state(
                r, path, fresh, base_head, cat, build=False, flags=flags
            )
            out.append(
                {
                    "path": path,
                    "resolution_s": r,
                    "subsecond": sub,
                    "fresh": fresh,
                    "eligible": mode is not None,
                    "reason": why,
                    # VERDICT r13 item 3: sum/avg HAVING routes require
                    # this manifest-proven stamp; surfaced here so "why
                    # didn't my HAVING query route" is answerable
                    "values_integer_exact": flags[3],
                }
            )
        return out

    def sketch_status(self) -> list[dict]:
        """Freshness report for every attached quantile sketch — the
        sketch twin of ``rollup_status`` (``eligible`` agrees with the
        ``quantile_approx`` routing loop by construction: both ask
        ``_sketch_serving_state``)."""
        from cardinalsin_spark.sources.snapshots import snapshot_managed

        base_head = None
        cat = None
        if self.metrics_path and snapshot_managed(self.metrics_path):
            cat = self.snapshot_catalog()
            base_head = cat.current_version()
        out = []
        for r, path, sub, a, fresh in self._attached_sketches:
            mode, why = self._sketch_serving_state(
                r, path, fresh, a, base_head, cat, build=False
            )
            out.append(
                {
                    "path": path,
                    "resolution_s": r,
                    "subsecond": sub,
                    "alpha": a,
                    "fresh": fresh,
                    "eligible": mode is not None,
                    "reason": why,
                }
            )
        return out

    def _serving_state(
        self,
        r: int,
        path: str,
        fresh: str,
        base_head: int | None,
        cat,
        build: bool = True,
        flags: tuple | None = None,
    ) -> tuple[object, str]:
        """The single freshness/serving decision shared by
        ``_route_rollups`` (``build=True`` — returns the target to scan)
        and ``rollup_status`` (``build=False`` — returns a truthy marker
        without constructing DataFrames).  Returns (target, reason);
        target None ⇔ the rollup is dropped from routing this query.

        Serving modes, in order:

        * fresh / static / unmanaged base — the rollup path itself;
        * ``fresh='union'`` on a stale DIRECT rollup over an append-only
          base diff — rollup rows ∪ downsampled ``read_changes`` delta
          (exact: moments add); rewrite-shaped or vacuumed history falls
          through to raw;
        * ``fresh='union'`` on a stale CASCADE tier whose parent chain is
          fresh — invalidation-region recompute (VERDICT r11 missing
          #3): tier rows for coarse buckets the parent diff did NOT
          touch ∪ ``downsample_moments`` of the parent's CURRENT rows
          for the touched coarse buckets.  Exact for any parent diff
          shape (appends, rewrites, late data) because touched buckets
          are recomputed wholesale from the parent head and untouched
          buckets' parent rows are bit-identical at both versions; reads
          stay rollup-sized (parent delta + removed files + the
          parent-head scan), never raw.  A vacuumed removed file falls
          through to raw.
        """
        complete, union_unsafe, _, _ = (
            flags if flags is not None else self._manifest_flags(path)
        )
        if not complete:
            # ADVICE r12: a rollup maintained with a row-filtering
            # transform would silently shrink DISTINCT/metadata results
            # and bucket aggregates while passing every column/freshness
            # guard — transparent serving requires the completeness
            # covenant; explicit reads of the table keep working
            return (
                None,
                "manifest records rollup_complete=false (maintained "
                "with a row-filtering transform) — excluded from "
                "transparent serving",
            )
        if base_head is None:
            return (path, "base is not snapshot-managed")
        if fresh == "static":
            return (path, "fresh='static' (caller-asserted)")
        is_fresh, rb, _direct, why = self._rollup_chain_state(path, base_head)
        if is_fresh:
            return (path, why)
        if fresh != "union":
            return (None, why)
        if union_unsafe:
            # r13 review finding, widened r14 (ADVICE r13 #1): BOTH
            # union arms recompute rows canonically — the direct arm
            # reshapes the CDC delta with the engine's value reshape,
            # the cascade arm folds parent rows with downsample_moments
            # and NO transform — so a table maintained with a CUSTOM
            # transform must never union with either (it would mix
            # custom-shaped stored rows with canonical recomputed
            # rows); refuse, raw answers bit-equal
            return (
                None,
                why + " (fresh='union' refused: maintained with a "
                "custom transform the union arms cannot reproduce)",
            )
        # rb is non-None ONLY when the rollup sits straight on the
        # metrics table (a cascade tier's version numbers belong to its
        # parent rollup's catalog and must never be compared — or diffed
        # — against the metrics head); the chain state's `direct` flag
        # is NOT the right discriminator here — it reports where the
        # walk stopped, which for a cascade tier stale at its own parent
        # link is still the first node
        if rb is not None:
            # a vacuumed base manifest (rb older than the retention
            # horizon) makes the delta unreadable — treat as
            # rewrite-shaped and fall back to raw
            unionable = (
                isinstance(rb, int)
                and rb < base_head
                and not cat.rewritten_since(rb, base_head)
            )
            if not unionable:
                return (
                    None,
                    why + " (fresh='union' needs an append-only, "
                    "unvacuumed base diff)",
                )
            # VERDICT r12 watch 2: say loudly that the union frame only
            # serves the classic moments — faithful counter functions
            # (rate/irate/increase/delta) fall back to raw on this state
            # because a hot bucket split across a rollup row and a delta
            # partial has no first/last ordering proof
            why += (
                " (fresh='union': serves rollup ∪ downsampled delta — "
                "classic moments only; faithful counter functions fall "
                "back to raw until the next refresh)"
            )
            if not build:
                return (True, why)
            return (self._direct_union_target(r, path, rb, base_head, cat), why)
        target = self._cascade_invalidation_target(
            r, path, base_head, build=build
        )
        if target is None:
            return (
                None,
                why + " (fresh='union' cascade recompute unavailable — "
                "parent chain stale, vacuumed, or schema drift)",
            )
        return (
            target,
            why + " (fresh='union': tier ∪ parent-delta recompute of the "
            "touched coarse buckets)",
        )

    def _manifest_flags(self, path: str) -> tuple[bool, bool, bool, bool]:
        """ONE manifest read serving every per-query covenant check
        (r13 review: the separate helpers each re-read the same JSON on
        every query — needless on object storage). Returns
        ``(complete, union_unsafe, null_slot, values_exact)``:

        * ``complete`` — the ADVICE r12 completeness covenant: False ⇔
          the manifest records ``rollup_complete=false`` (a transform
          the refresher did not declare row-preserving); such a table
          may be a filtered subset of the base, so NO transparent-
          serving door may route through it. Plain parquet and
          pre-covenant manifests are trusted, as the attach docstrings
          have always required.
        * ``union_unsafe`` — ``rollup_transform == 'custom'``: the
          ``fresh='union'`` delta arms apply the engine's canonical
          value reshape, so a custom-shaped table must never union with
          them (missing key / plain parquet = legacy, trusted as
          canonical like the completeness default);
        * ``null_slot`` — the sketch records NULL/NaN counts under the
          NULL_SLOT sentinel (``sketch_null_slot``), the
          complete-downsample property the metadata/DISTINCT doors
          require — here the missing-key default is FALSE (a
          pre-sentinel or plain-parquet sketch cannot prove it);
        * ``values_exact`` — every folded value was an integer-valued
          |v| ≤ 2⁵³ double (``rollup_values_integer_exact``, stamped by
          every refresh, VERDICT r13 item 3): the precondition under
          which sum/avg recomposition is accumulation-order exact, so a
          HAVING threshold on sum/avg selects identical row SETS routed
          and raw.  Missing-key default FALSE — a plain-parquet or
          pre-stamp rollup cannot prove it, and guessing would turn the
          documented value-drift caveat into silent row-membership
          drift."""
        from cardinalsin_spark.sources.snapshots import (
            SnapshotCatalog,
            snapshot_managed,
        )

        if not isinstance(path, str) or not snapshot_managed(path):
            return True, False, False, False
        try:
            man = SnapshotCatalog(path).manifest()
        except FileNotFoundError:
            return True, False, False, False
        return (
            bool(man.get("rollup_complete", True)),
            man.get("rollup_transform") == "custom",
            bool(man.get("sketch_null_slot", False)),
            bool(man.get("rollup_values_integer_exact", False)),
        )

    def _direct_union_target(
        self, r: int, path: str, rb: int, base_head: int, cat
    ):
        """Real-time continuous aggregate over the metrics table: rollup
        rows ∪ downsampled CDC delta — exact because moments add."""
        from cardinalsin_spark.operators.compaction import (
            COUNTER_MOMENT_COLS,
            MOMENT_COLS,
            downsample,
        )
        from cardinalsin_spark.schema import value_expr
        from cardinalsin_spark.sources.snapshots import read_table_auto

        ro = read_table_auto(self.spark, path)
        series = [c for c in ro.columns if c not in MOMENT_COLS]
        delta = cat.read_changes(self.spark, rb, base_head).withColumn(
            "value", value_expr()
        )
        # counters=False: a union target only serves the classic
        # moments (the counter routes take committed single-
        # segment-per-bucket rollup tables only — a hot bucket
        # split across a rollup row and a delta partial cannot
        # fold first/last/inc without an ordering proof)
        partial = downsample(delta, r, series, counters=False)
        cols = [c for c in ro.columns if c not in COUNTER_MOMENT_COLS]
        return ro.select(*cols).unionByName(partial.select(*cols))

    def _cascade_parent_state(self, path: str, base_head: int | None):
        """Shared pre-checks for invalidation-region serving of a stale
        CASCADE tier (moment rollups and quantile sketches alike): the
        tier must be snapshot-managed with a rollup base chain, the
        parent chain must itself be fresh, the tier must actually lag
        its parent, and no file removed since the tier's fold point may
        have been vacuumed.  Returns ``(man, parent, ph, rb,
        removed_paths)`` or None ⇔ cannot serve exactly."""
        import os as _os

        from cardinalsin_spark.sources.snapshots import (
            SnapshotCatalog,
            snapshot_managed,
        )

        if not snapshot_managed(path):
            return None
        try:
            man = SnapshotCatalog(path).manifest()
        except FileNotFoundError:
            return None
        rb, broot = man.get("rollup_base_version"), man.get("rollup_base_root")
        if rb is None or broot is None or not snapshot_managed(broot):
            return None
        # the parent chain (fine ← … ← metrics) must itself be fresh —
        # otherwise a finer tier or raw serves and this tier stays out
        parent_fresh, _, _, _ = self._rollup_chain_state(broot, base_head)
        if not parent_fresh:
            return None
        parent = SnapshotCatalog(broot)
        ph = parent.current_version()
        if ph is None or not isinstance(rb, int) or rb >= ph:
            return None
        try:
            removed = parent.diff(rb, ph)["removed"]
        except FileNotFoundError:
            return None  # tier's fold point vacuumed from parent history
        removed_paths = [_os.path.join(parent.root, rel) for rel in removed]
        if any(not _os.path.exists(p) for p in removed_paths):
            return None  # removed file vacuumed: the old rows are gone
        return (man, parent, ph, rb, removed_paths)

    def _cascade_invalidation_target(
        self, r: int, path: str, base_head: int | None, build: bool = True
    ):
        """Stale cascade tier under ``fresh='union'``: serve tier rows ∪
        recomputed moments for the coarse buckets the PARENT rollup's
        diff touched — reading only rollup catalogs, never raw metrics.
        None ⇔ cannot serve exactly (parent chain itself stale, removed
        file vacuumed, parent not a rollup, schema drift)."""
        from cardinalsin_spark.sources.snapshots import (
            SnapshotCatalog,
            read_parquet_grouped,
        )

        state = self._cascade_parent_state(path, base_head)
        if state is None:
            return None
        _man, parent, ph, rb, removed_paths = state
        if not build:
            return True
        from cardinalsin_spark.functions.core import time_bucket
        from cardinalsin_spark.operators.compaction import (
            MOMENT_COLS,
            downsample_moments,
        )

        tier = SnapshotCatalog(path).read(self.spark)
        fine_head = parent.read(self.spark, ph)
        # every tier column must be reproducible from the parent head:
        # series columns must exist there, and the fold only emits the
        # counter moments when the parent carries them (a tier with
        # counters over a counter-less parent is schema drift, not a
        # crash at the select below)
        from cardinalsin_spark.operators.compaction import (
            COUNTER_MOMENT_COLS,
        )

        # row_count folds only when the parent carries it (a tier with
        # the moment over a parent without it is schema drift, like the
        # counter-moment rule below)
        fold_cols = set(fine_head.columns) | (
            MOMENT_COLS - COUNTER_MOMENT_COLS - {"row_count"}
        )
        if COUNTER_MOMENT_COLS.issubset(set(fine_head.columns)):
            fold_cols |= COUNTER_MOMENT_COLS
        if not set(tier.columns).issubset(fold_cols):
            return None  # schema drift between tier and parent
        series = [c for c in tier.columns if c not in MOMENT_COLS]
        # only the bucket column feeds the invalidation set — removed
        # files may predate a parent schema change (e.g. the
        # counter-moment upgrade), so never select the full width
        changed = parent.read_changes(self.spark, rb, ph).select("bucket")
        if removed_paths:
            changed = changed.unionByName(
                read_parquet_grouped(
                    self.spark, parent.root, removed_paths
                ).select("bucket")
            )
        invalid = (
            changed.select(time_bucket("bucket", r).alias("__cb")).distinct()
        )
        kept = tier.join(
            invalid, tier["bucket"] == invalid["__cb"], "left_anti"
        )
        recomputed = downsample_moments(
            fine_head.join(
                invalid,
                time_bucket(fine_head["bucket"], r) == invalid["__cb"],
                "left_semi",
            ),
            r,
            series,
        )
        return kept.select(*tier.columns).unionByName(
            recomputed.select(*tier.columns)
        )

    def _sketch_serving_state(
        self,
        r: int,
        path: str,
        fresh: str,
        alpha: float,
        base_head: int | None,
        cat,
        build: bool = True,
        flags: tuple[bool, bool, bool, bool] | None = None,
    ) -> tuple[object, str]:
        """Quantile-sketch twin of ``_serving_state`` — the same chain
        walk and freshness doctrine, but the ``fresh='union'`` folds
        build SLOT-COUNT partials instead of moment partials: a stale
        direct sketch serves sketch rows ∪
        ``downsample_quantile_sketch`` of the CDC delta, and a stale
        cascade tier serves tier rows ∪ ``coarsen_quantile_sketch`` of
        the parent head for the touched coarse buckets (VERDICT r12
        item 1).  SIMPLER than the moment version by construction: slot
        counts add with no counter-ordering proofs, so a hot bucket
        split across a sketch row and a delta partial is fine — every
        consumer re-aggregates by (bucket, series, qslot) before the
        rank walk."""
        complete, union_unsafe, _, _ = (
            flags if flags is not None else self._manifest_flags(path)
        )
        if not complete:
            return (
                None,
                "manifest records rollup_complete=false (maintained "
                "with a row-filtering transform) — excluded from "
                "transparent serving",
            )
        if base_head is None:
            return (path, "base is not snapshot-managed")
        if fresh == "static":
            return (path, "fresh='static' (caller-asserted)")
        is_fresh, rb, _direct, why = self._rollup_chain_state(path, base_head)
        if is_fresh:
            return (path, why)
        if fresh != "union":
            return (None, why)
        if union_unsafe:
            # hoisted above the direct/cascade split like the moment
            # twin (r14 review): both union arms recompute canonically
            # (the direct arm reshapes the CDC delta, the cascade arm
            # coarsens parent rows with no transform).  Unreachable for
            # sketch tables built by refresh_quantile_sketch today —
            # from_sketch loud-rejects transforms — but defense against
            # a hand-built manifest or a future transform-applying
            # cascade costs one check
            return (
                None,
                why + " (fresh='union' refused: maintained with a "
                "custom transform the union arms cannot reproduce)",
            )
        if rb is not None:
            # direct sketch over the metrics table (see _serving_state
            # for why `rb is not None`, not the chain walk's direct
            # flag, discriminates direct from cascade)
            unionable = (
                isinstance(rb, int)
                and rb < base_head
                and not cat.rewritten_since(rb, base_head)
            )
            if not unionable:
                return (
                    None,
                    why + " (fresh='union' needs an append-only, "
                    "unvacuumed base diff)",
                )
            why += " (fresh='union': serves sketch ∪ delta slot counts)"
            if not build:
                return (True, why)
            return (
                self._sketch_direct_union_target(r, path, rb, base_head,
                                                 cat, alpha),
                why,
            )
        target = self._sketch_cascade_invalidation_target(
            r, path, base_head, alpha, build=build
        )
        if target is None:
            return (
                None,
                why + " (fresh='union' cascade recompute unavailable — "
                "parent chain stale, vacuumed, not a matching-α sketch, "
                "or schema drift)",
            )
        return (
            target,
            why + " (fresh='union': tier ∪ parent-delta recompute of the "
            "touched coarse buckets)",
        )

    def _sketch_direct_union_target(
        self, r: int, path: str, rb: int, base_head: int, cat, alpha: float
    ):
        """Real-time quantile-sketch continuous aggregate: sketch rows ∪
        slot counts of the CDC delta — exact because counts add (the
        routed quantile re-aggregates by (bucket, series, qslot), so a
        bucket split across both arms folds before the rank walk)."""
        from cardinalsin_spark.operators.quantile_sketch import (
            downsample_quantile_sketch,
        )
        from cardinalsin_spark.schema import value_expr
        from cardinalsin_spark.sources.snapshots import read_table_auto

        ro = read_table_auto(self.spark, path)
        series = [
            c for c in ro.columns if c not in ("bucket", "qslot", "qcount")
        ]
        delta = cat.read_changes(self.spark, rb, base_head).withColumn(
            "value", value_expr()
        )
        partial = downsample_quantile_sketch(delta, r, series, alpha)
        return ro.select(*partial.columns).unionByName(partial)

    def _sketch_cascade_invalidation_target(
        self,
        r: int,
        path: str,
        base_head: int | None,
        alpha: float,
        build: bool = True,
    ):
        """Stale cascade SKETCH tier under ``fresh='union'``: tier rows
        for coarse buckets the parent sketch's diff did NOT touch ∪
        ``coarsen_quantile_sketch`` of the parent's CURRENT rows for the
        touched coarse buckets — reading only sketch catalogs, never raw
        samples.  None ⇔ cannot serve exactly (shared pre-checks in
        ``_cascade_parent_state``, plus: the parent must be a sketch
        with the SAME alpha — folding a different error bound, or a
        moment rollup's rows, would silently change the estimates)."""
        from cardinalsin_spark.functions.core import time_bucket
        from cardinalsin_spark.operators.quantile_sketch import (
            coarsen_quantile_sketch,
        )
        from cardinalsin_spark.sources.snapshots import (
            SnapshotCatalog,
            read_parquet_grouped,
        )

        state = self._cascade_parent_state(path, base_head)
        if state is None:
            return None
        _man, parent, ph, rb, removed_paths = state
        try:
            parent_alpha = parent.manifest(ph).get("sketch_alpha")
        except FileNotFoundError:
            return None
        if parent_alpha is None or float(parent_alpha) != float(alpha):
            return None  # parent is not a matching-α sketch
        if not build:
            return True
        tier = SnapshotCatalog(path).read(self.spark)
        fine_head = parent.read(self.spark, ph)
        if not set(tier.columns).issubset(set(fine_head.columns)):
            return None  # schema drift between tier and parent
        series = [
            c for c in tier.columns if c not in ("bucket", "qslot", "qcount")
        ]
        changed = parent.read_changes(self.spark, rb, ph).select("bucket")
        if removed_paths:
            changed = changed.unionByName(
                read_parquet_grouped(
                    self.spark, parent.root, removed_paths
                ).select("bucket")
            )
        invalid = (
            changed.select(time_bucket("bucket", r).alias("__cb")).distinct()
        )
        kept = tier.join(
            invalid, tier["bucket"] == invalid["__cb"], "left_anti"
        )
        recomputed = coarsen_quantile_sketch(
            fine_head.join(
                invalid,
                time_bucket(fine_head["bucket"], r) == invalid["__cb"],
                "left_semi",
            ),
            r,
            series,
        )
        return kept.select(*tier.columns).unionByName(
            recomputed.select(*tier.columns)
        )

    def _route_rollups(
        self, with_paths: bool = False
    ) -> list[tuple]:
        """The per-query routing list: attached rollups with the
        freshness guard applied (VERDICT r10 — `_maybe_route_rollup`
        itself is geometry-only, so staleness is decided here, where the
        base catalog lives). Returns (resolution_s, path_or_frame,
        subsecond) triples; stale ``fresh='union'`` rollups arrive as
        pre-built DataFrames (direct: rollup ∪ downsampled delta;
        cascade tier: tier ∪ parent-delta recompute — see
        ``_serving_state``). ``with_paths=True`` appends the attached
        PATH and its ``_manifest_flags`` tuple as fourth/fifth elements
        (the serving target may be a pre-built union frame, but
        per-table covenants — e.g. the value-exactness stamp the SQL
        HAVING route checks — live at the path's manifest; returning
        the already-read flags keeps it ONE manifest read per table per
        query)."""
        if not self._attached_rollups:
            return []
        from cardinalsin_spark.sources.snapshots import snapshot_managed

        base_head = None
        cat = None
        if self.metrics_path and snapshot_managed(self.metrics_path):
            cat = self.snapshot_catalog()
            base_head = cat.current_version()
        out: list[tuple] = []
        for r, path, sub, fresh in self._attached_rollups:
            flags = self._manifest_flags(path)
            target, _why = self._serving_state(
                r, path, fresh, base_head, cat, build=True, flags=flags
            )
            if target is not None:
                out.append(
                    (r, target, sub, path, flags)
                    if with_paths
                    else (r, target, sub)
                )
            # stale under 'fallback' (or unservable under 'union'):
            # drop from the routing list — the raw arm scans base,
            # bit-equal by construction
        return out

    def _route_sketches(self) -> list[tuple[int, object, bool]]:
        """Sketch twin of ``_route_rollups``: attached quantile sketches
        with the chain-aware freshness (and completeness) guard applied.
        Used by ``quantile_approx`` indirectly and by the metadata/
        DISTINCT doors as a LAST-RESORT candidate list — a sketch keeps
        the full (bucket, series) key set, so its DISTINCT labels are
        exactly the raw table's over grid-aligned bounds, just across
        more rows (×occupied slots) than a moment rollup would read.

        Only sketches whose manifest records ``sketch_null_slot`` may
        serve here (r13 review finding): a pre-sentinel sketch dropped
        NULL/NaN-only (bucket, series) keys entirely, so its DISTINCT
        sets could silently miss value-less series — never guess; a
        plain-parquet sketch has no manifest to prove the property."""
        if not self._attached_sketches:
            return []
        from cardinalsin_spark.sources.snapshots import snapshot_managed

        base_head = None
        cat = None
        if self.metrics_path and snapshot_managed(self.metrics_path):
            cat = self.snapshot_catalog()
            base_head = cat.current_version()
        out: list[tuple[int, object, bool]] = []
        for r, path, sub, a, fresh in self._attached_sketches:
            flags = self._manifest_flags(path)
            if not flags[2]:  # no proven NULL_SLOT property
                continue
            target, _why = self._sketch_serving_state(
                r, path, fresh, a, base_head, cat, build=True, flags=flags
            )
            if target is not None:
                out.append((r, target, sub))
        return out

    def exp_histogram_quantile(
        self,
        base_name: str,
        q: float,
        time_s: float | None = None,
        at_version: int | None = None,
    ) -> DataFrame:
        """Quantile over an ingested OTLP exponential histogram (the
        ``histogram_buckets=True`` ingest shape: ``{base}_exp_bucket``
        rows with scale/idx/sign labels + ``{base}_exp_zero``). Takes
        the latest count per (series, bucket) at ``time_s`` — the same
        instant-vector convention as ``promql_instant``'s classic
        ``histogram_quantile`` path — and runs
        ``operators.promql.exp_histogram_quantile`` per series.
        Outside the oracle tier by the libm rule (2^(k/2^s) needs pow);
        exact for scale <= 0."""
        from pyspark.sql import functions as _F

        from cardinalsin_spark.operators.promql import (
            exp_histogram_quantile as _ehq,
        )
        from cardinalsin_spark.schema import label_columns as _label_cols

        df = self._promql_frame(at_version)
        sel = df.filter(
            _F.col("metric_name").isin(
                f"{base_name}_exp_bucket", f"{base_name}_exp_zero"
            )
        )
        if time_s is not None:
            sel = sel.filter(
                _F.col("timestamp") <= _F.timestamp_seconds(_F.lit(time_s))
            )
        # le is the CLASSIC family's structure label (null on exp rows);
        # grouping on it would only add a constant-null output column in
        # mixed classic+exp tables — same rule as the parser route
        special = {"scale", "idx", "sign", "le"}
        series = [
            c for c in _label_cols(sel.schema)
            if c not in special and c != "value"
        ]
        latest = (
            sel.groupBy("metric_name", *series, "scale", "idx", "sign")
            .agg(_F.expr("max_by(value, timestamp)").alias("cnt"))
            .withColumn(
                "sign",
                _F.when(
                    _F.col("metric_name") == f"{base_name}_exp_zero",
                    _F.lit("zero"),
                ).otherwise(_F.col("sign")),
            )
            .withColumn("idx", _F.col("idx").cast("long"))
            .withColumn("scale", _F.col("scale").cast("int"))
        )
        # group by series AND scale: the operator assumes one scale per
        # group, and the ingest stamps it as a label per data point
        return _ehq(latest, q, [*series, "scale"])

    def rollup_router(self, series_cols: list[str] | None = None):
        """Continuous-aggregate routing over this engine's metrics table
        (``operators.rollup.RollupRouter``): attach ``jobs downsample``
        outputs and range aggregations whose step/bounds align serve
        from the rollup instead of the raw samples. The base side reads
        through the engine's coalesced value view (and the snapshot
        manifest when one exists)."""
        from cardinalsin_spark.operators.rollup import RollupRouter
        from cardinalsin_spark.schema import label_columns, value_expr

        if not self.metrics_path:
            raise ValueError("engine opened without a metrics_path")
        base = self.metrics.withColumn("value", value_expr())
        cols = (
            series_cols
            if series_cols is not None
            else ["metric_name", *label_columns(self.metrics.schema)]
        )
        return RollupRouter(self.spark, base, series_cols=cols)

    # -- Prometheus metadata endpoints (labels / label values / series) ------

    def labels(self) -> list[str]:
        """`/api/v1/labels` — information_schema column discovery
        (``api/query/prometheus_api.rs:287-340``)."""
        return ["metric_name", *label_columns(self.metrics.schema)]

    def _metadata_scope(
        self,
        match: str | None = None,
        start_s: float | None = None,
        end_s: float | None = None,
    ) -> DataFrame:
        """Apply the reference's metadata filters (selector matchers + time
        bounds, ``api/query/prometheus_api.rs:360-535``) to the metrics
        frame. ``match`` is a PromQL selector (`metric{l op "v", ...}`);
        its metric name, when present, filters ``metric_name``. Time
        bounds filter the timestamp and, when the raw ns column exists,
        add the scan-pushable int64 predicate."""
        from cardinalsin_spark.functions.core import label_matcher
        from cardinalsin_spark.operators.promql import (
            _ns_prefilter,
            parse_promql,
        )

        df = self.metrics
        if match:
            parsed = parse_promql(match)
            if parsed.metric_name:
                df = df.filter(F.col("metric_name") == parsed.metric_name)
            known = set(self.labels())
            for m in parsed.label_matchers:
                if m.label == "__name__":  # metric-name pseudo-label
                    df = df.filter(
                        label_matcher("metric_name", m.op, m.value)
                    )
                    continue
                if m.label not in known:  # same guard as label_values
                    raise ValueError(f"unknown label: {m.label}")
                df = df.filter(label_matcher(m.label, m.op, m.value))
        if start_s is not None:
            df = df.filter(
                F.col("timestamp") >= F.timestamp_seconds(F.lit(start_s))
            )
        if end_s is not None:
            df = df.filter(
                F.col("timestamp") <= F.timestamp_seconds(F.lit(end_s))
            )
        if start_s is not None or end_s is not None:
            df = _ns_prefilter(df, start_s, end_s)
        return df

    def _best_tier(
        self,
        triples,
        need: set,
        start_s: float | None,
        end_s: float | None,
    ):
        """Pick the coarsest serving candidate whose grid covers the
        closed bounds and that kept every needed column — the shared
        candidate walk of the metadata/DISTINCT doors (r13 review: the
        same 17 lines were pasted per door per tier kind). ``triples``
        is a ``_route_rollups()``/``_route_sketches()`` list; callers
        chain tier kinds by calling again only when this returns None
        (rollups first, sketches as the last resort)."""
        from cardinalsin_spark.sources.snapshots import read_table_auto

        best = None
        for r, target, sub in triples:
            if not self._bounds_on_grid(start_s, end_s, r, sub):
                continue
            ro = (
                read_table_auto(self.spark, target)
                if isinstance(target, str)
                else target
            )
            if need.issubset(set(ro.columns)) and (
                best is None or r > best[0]
            ):
                best = (r, ro)
        return best

    def _maybe_route_metadata(
        self,
        need_cols: list[str],
        match: str | None,
        start_s: float | None,
        end_s: float | None,
    ) -> DataFrame | None:
        """Continuous-aggregate serving for the metadata endpoints
        (``label_values``/``series`` — the Grafana variable-query shape):
        a DISTINCT over series columns reads identically from any FRESH
        rollup that kept those columns, because every raw row in scope
        belongs to exactly one rollup row in scope with the same label
        tuple. Time bounds must sit on the rollup grid (a straddling
        bucket would leak label values whose only raw rows lie outside
        the scope into the DISTINCT): ``start % r == 0`` and
        ``(end + 1) % r == 0``, micros-exact for sub-second rollups —
        the same closed-bounds convention as ``rollup_covers``. Picks
        the coarsest qualifying rollup (fewest rows); returns the
        filtered rollup frame, or None → the caller scans raw. When no
        ROLLUP qualifies, a fresh attached quantile SKETCH serves as the
        last resort — its (bucket, series) keys give the identical
        DISTINCT set over grid-aligned bounds, across ×occupied-slots
        more rows than a rollup but orders of magnitude fewer than raw."""
        if not (self._attached_rollups or self._attached_sketches):
            return None
        from cardinalsin_spark.functions.core import label_matcher
        from cardinalsin_spark.operators.promql import parse_promql

        parsed = parse_promql(match) if match else None
        need = {*need_cols, "metric_name", "bucket"}
        if parsed is not None:
            need |= {
                m.label
                for m in parsed.label_matchers
                if m.label != "__name__"
            }

        best = self._best_tier(self._route_rollups(), need, start_s, end_s)
        if best is None:
            # last resort: a quantile SKETCH keeps the full (bucket,
            # series) key set too, so its DISTINCT labels are exactly
            # the raw table's over grid-aligned bounds — more rows than
            # a moment rollup (×occupied slots), far fewer than raw
            best = self._best_tier(
                self._route_sketches(), need, start_s, end_s
            )
        if best is None:
            return None
        ro = best[1]
        if parsed is not None:
            if parsed.metric_name:
                ro = ro.filter(F.col("metric_name") == parsed.metric_name)
            known = set(self.labels())
            for m in parsed.label_matchers:
                if m.label == "__name__":
                    ro = ro.filter(
                        label_matcher("metric_name", m.op, m.value)
                    )
                    continue
                if m.label not in known:
                    raise ValueError(f"unknown label: {m.label}")
                ro = ro.filter(label_matcher(m.label, m.op, m.value))
        if start_s is not None:
            ro = ro.filter(
                F.col("bucket")
                >= F.timestamp_micros(F.lit(int(round(start_s * 1e6))))
            )
        if end_s is not None:
            ro = ro.filter(
                F.col("bucket")
                <= F.timestamp_micros(F.lit(int(round(end_s * 1e6))))
            )
        return ro

    def label_values(
        self,
        label: str,
        match: str | None = None,
        start_s: float | None = None,
        end_s: float | None = None,
    ) -> DataFrame:
        """`/api/v1/label/<name>/values` — SELECT DISTINCT, validated
        against the schema (the reference's SQL-injection guard,
        ``api/query/prometheus_api.rs:1239-1250``), optionally scoped by
        selector matchers and a time range like the reference
        (``api/query/prometheus_api.rs:360-405``): a Grafana variable
        query `label_values(up{env="prod"}, host)` over a dashboard time
        range hits exactly this."""
        if label not in self.labels():
            raise ValueError(f"unknown label: {label}")
        scope = self._maybe_route_metadata([label], match, start_s, end_s)
        if scope is None:
            scope = self._metadata_scope(match, start_s, end_s)
        return (
            scope.select(label)
            .filter(F.col(label).isNotNull())
            .distinct()
            .orderBy(label)
        )

    def series(
        self,
        match: str | None = None,
        start_s: float | None = None,
        end_s: float | None = None,
    ) -> DataFrame:
        """`/api/v1/series` — DISTINCT over all label columns, optionally
        scoped by matchers + time bounds
        (``api/query/prometheus_api.rs:428-535``)."""
        scope = self._maybe_route_metadata(
            self.labels(), match, start_s, end_s
        )
        if scope is None:
            scope = self._metadata_scope(match, start_s, end_s)
        return scope.select(self.labels()).distinct()

    # -- entry point D: streaming --------------------------------------------

    def stream(
        self,
        chunk_dir: str | None = None,
        predicate: str | None = None,
        topic_filter=None,
        name_col: str = "metric_name",
    ):
        """Live tail over newly-flushed chunk files, optionally row-filtered
        (``query/streaming.rs:228-468``); union with ``self.metrics`` via
        ``streaming.historical_live_merge`` for the full merge semantics.
        ``topic_filter`` (a ``streaming.topics.TopicFilter``) compiles to a
        pushed stream predicate — the subscription-filter analogue of the
        reference's topic broadcast (``ingester/topic_broadcast.rs``)."""
        from cardinalsin_spark.streaming import live_filter, read_metrics_stream

        sdf = read_metrics_stream(
            self.spark, chunk_dir or self.metrics_path, self.metrics.schema
        )
        if topic_filter is not None:
            sdf = sdf.filter(topic_filter.to_column(name_col=name_col))
        return live_filter(sdf, predicate) if predicate else sdf

    # -- output formats (api/query/sql_http.rs:76-206) ------------------------

    @staticmethod
    def to_json(df: DataFrame) -> list[str]:
        return df.toJSON().collect()

    @staticmethod
    def to_arrow(df: DataFrame):
        return df.toArrow()

    @staticmethod
    def to_csv(df: DataFrame, path: str) -> None:
        df.write.option("header", True).mode("overwrite").csv(path)

    # -- adaptive indexing (accounting only) ----------------------------------

    def index_recommendations(self, min_uses: int = 2, top_n: int = 5):
        return self.collector.recommendations(self.metrics, min_uses, top_n)

    @staticmethod
    def to_prometheus_matrix(
        df: DataFrame,
        ts_col: str = "time_bucket",
        value_col: str = "value",
    ) -> list[dict]:
        """Shape a range-query result as the Prometheus HTTP API's matrix
        body (``/api/v1/query_range`` → ``data.result``): one entry per
        label set with ``[epoch_seconds, "value"]`` pairs, values stringly
        typed like the real API. Serialization is inherently driver-side
        (this is the serving edge — the result set, not the corpus)."""
        label_cols = [c for c in df.columns if c not in (ts_col, value_col)]
        # a collected TIMESTAMP is a naive datetime in the process's time
        # zone, with ``fold`` set in a repeated hour, so local ``timestamp()``
        # inverts it exactly; a TIMESTAMP_NTZ is a UTC wall clock
        ntz = isinstance(df.schema[ts_col].dataType, TimestampNTZType)
        series: dict = {}
        for r in df.collect():
            key = tuple((c, r[c]) for c in label_cols)
            ts = r[ts_col].replace(tzinfo=_dt.timezone.utc) if ntz else r[ts_col]
            secs = int(ts.replace(microsecond=0).timestamp())
            epoch = (secs * 1_000_000 + ts.microsecond) / 1_000_000
            series.setdefault(key, []).append([epoch, str(r[value_col])])
        return [
            {"metric": {k: str(v) for k, v in key}, "values": sorted(vals)}
            for key, vals in sorted(
                series.items(), key=lambda kv: [(k, str(v)) for k, v in kv[0]]
            )
        ]
