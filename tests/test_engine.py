"""Engine facade: ingest→sql→promql lifecycle, metadata endpoints, output
formats, dedup flag, adaptive-index accounting."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cardinalsin_spark.engine import CardinalSin
from cardinalsin_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("engine") / "metrics")
    cs = CardinalSin(spark, path)
    ev = load_table(spark, sf_dir, "events")
    cs.ingest(
        ev, ts_col="ts_ns", name_col="event_type", value_col="value",
        label_cols={"user": "user_id"},
    )
    return cs


def test_sql_passthrough(engine, spark, sf_dir):
    n = engine.sql("SELECT count(*) AS n FROM metrics").first().n
    assert n == load_table(spark, sf_dir, "events").count()
    agg = engine.sql(
        "SELECT metric_name, count(*) AS n FROM metrics "
        "WHERE metric_name <> 'click' GROUP BY metric_name ORDER BY n DESC"
    )
    assert agg.count() > 0 and "click" not in {r.metric_name for r in agg.collect()}


def test_promql_entrypoints(engine):
    inst = engine.promql_instant('sum(click{user=~".*"})')
    assert inst.count() >= 1
    lo = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    hi = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp()
    rng = engine.promql_range("avg(click)", lo, hi, 3600)
    assert rng.count() > 0


def test_metadata_endpoints(engine):
    assert "metric_name" in engine.labels() and "user" in engine.labels()
    vals = engine.label_values("metric_name")
    assert vals.count() >= 2
    with pytest.raises(ValueError):
        engine.label_values("nope; DROP TABLE metrics")
    assert engine.series().count() >= vals.count()


def test_output_formats(engine, tmp_path):
    df = engine.sql("SELECT metric_name FROM metrics LIMIT 3")
    js = engine.to_json(df)
    assert len(js) == 3 and all(s.startswith("{") for s in js)
    tbl = engine.to_arrow(df)
    assert tbl.num_rows == 3
    engine.to_csv(df, str(tmp_path / "out_csv"))
    assert (tmp_path / "out_csv").exists()


def test_dedup_flag(spark, engine):
    engine.dedup = True
    try:
        n_all = engine.sql("SELECT timestamp, metric_name FROM metrics").count()
        n_distinct = (
            engine.metrics.select("timestamp", "metric_name").distinct().count()
        )
        assert n_all == n_distinct
    finally:
        engine.dedup = False


def test_index_recommendations(engine):
    for _ in range(3):
        engine.sql(
            "SELECT metric_name, count(*) FROM metrics "
            "WHERE user = 'u17' GROUP BY metric_name"
        )
    recs = engine.index_recommendations(min_uses=2)
    by_col = {r["column"]: r for r in recs}
    assert "user" in by_col
    assert by_col["user"]["filter_uses"] >= 2
    assert by_col["user"]["index_type"] in {"inverted", "range", "bloom_filter"}


def test_label_values_with_matchers_and_time_bounds(engine, spark, sf_dir):
    """Reference api/query/prometheus_api.rs:360-405: metadata endpoints
    accept selector matchers and time bounds — the Grafana variable-query
    path. Results must equal the directly-filtered distinct."""
    ev = load_table(spark, sf_dir, "events")
    lo = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2024, 1, 8, tzinfo=dt.timezone.utc)
    expected = {
        str(r.user_id)
        for r in ev.filter(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.lit(lo.replace(tzinfo=None)))
            & (F.col("ts") <= F.lit(hi.replace(tzinfo=None)))
        )
        .select("user_id")
        .distinct()
        .collect()
    }
    got = {
        r.user
        for r in engine.label_values(
            "user", match="click", start_s=lo.timestamp(), end_s=hi.timestamp()
        ).collect()
    }
    assert got == expected and 0 < len(got)
    # unfiltered is a superset
    all_vals = {r.user for r in engine.label_values("user").collect()}
    assert got <= all_vals
    # matcher-scoped series is narrower than the full series set
    scoped = engine.series(match='click{user=~"1.*"}')
    assert 0 < scoped.count() < engine.series().count()
    assert {r.metric_name for r in scoped.collect()} == {"click"}
    assert all(r.user.startswith("1") for r in scoped.collect())
    with pytest.raises(ValueError):
        engine.label_values("user", match='click{bogus="x"}')


def test_schema_evolution_two_ingests(spark, sf_dir, tmp_path):
    """A label column added by a later ingest must stay queryable across
    old and new files (mergeSchema; reference re-infers schema per
    registration, query/engine.rs:171-177). Without it the column can
    silently vanish depending on file pick order."""
    path = str(tmp_path / "metrics")
    cs = CardinalSin(spark, path)
    ev = load_table(spark, sf_dir, "events").limit(2000).cache()
    n = ev.count()
    cs.ingest(ev, ts_col="ts_ns", name_col="event_type", value_col="value")
    cs.ingest(
        ev, ts_col="ts_ns", name_col="event_type", value_col="value",
        label_cols={"region": "user_id"},
    )
    assert "region" in cs.labels()
    counts = cs.sql(
        "SELECT count(*) AS total, count(region) AS with_region FROM metrics"
    ).first()
    assert counts.total == 2 * n          # both generations readable
    assert counts.with_region == n        # old files read the new label as null
    # the evolved label is usable in predicates and metadata endpoints
    assert cs.label_values("region").count() > 0
    some = cs.sql(
        "SELECT count(*) AS n FROM metrics WHERE region IS NOT NULL"
    ).first().n
    assert some == n
    ev.unpersist()


def test_prometheus_matrix_shape(spark, engine):
    """Range result → /api/v1/query_range matrix body: one entry per label
    set, [epoch, "value"] pairs sorted by time, stringly values."""
    lo, hi = 1704067200.0, 1704153600.0
    df = engine.promql_range("avg(click)", lo, hi, 21600)
    body = engine.to_prometheus_matrix(df)
    assert len(body) >= 1
    for entry in body:
        assert set(entry) == {"metric", "values"}
        assert entry["metric"].get("event_type", "click") == "click"
        times = [t for t, _ in entry["values"]]
        assert times == sorted(times)
        assert all(lo <= t <= hi for t in times)
        assert all(isinstance(v, str) for _, v in entry["values"])


_MATRIX_UNDER_TZ = """
import json, time
from pyspark.sql import SparkSession, functions as F
from cardinalsin_spark.engine import CardinalSin

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
df = spark.createDataFrame(
    [(us, float(i)) for i, us in enumerate(MICROS)], "us long, value double"
).select(
    F.timestamp_micros("us").alias("time_bucket"),
    F.lit("m").alias("metric_name"),
    "value",
)
body = CardinalSin.to_prometheus_matrix(df)
print(json.dumps([time.tzname, [t for t, _ in body[0]["values"]]]))
"""


def test_prometheus_matrix_epochs_exact_under_local_tz():
    """Matrix epochs are the instants, whatever the process time zone: a
    collected timestamp is a naive local datetime, which read as UTC
    shifted 1970-01-01T01:00Z to -14400.0 under America/New_York. The
    two 01:30 wall-clock instants of the 2024-11-03 fall-back hour keep
    their own epochs."""
    import json
    import os
    import subprocess
    import sys

    # 01:00Z; 01:30 EDT; 01:30:00.25 EST
    micros = [3_600_000_000, 1_730_611_800_000_000, 1_730_615_400_250_000]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _MATRIX_UNDER_TZ.replace("MICROS", repr(micros))],
        cwd=repo,
        env={**os.environ, "TZ": "America/New_York", "PYTHONPATH": repo},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    tzname, epochs = json.loads(out.stdout.strip().splitlines()[-1])
    assert "EST" in tzname
    assert epochs == [us / 1_000_000 for us in micros]


def test_tenant_rate_limiting_on_queries(engine):
    """sql/promql with a tenant_id are gated once rate limiting is on;
    denials surface as QuotaExceeded carrying the retry hint."""
    import pytest

    from cardinalsin_spark.engine import QuotaExceeded
    from cardinalsin_spark.rate_limit import TenantQuota

    class _Clock:
        t = 0.0

        def __call__(self):
            return self.t

    from cardinalsin_spark.rate_limit import RateLimiter

    engine.enable_rate_limiting(TenantQuota(max_query_rps=2))
    engine.rate_limiter = RateLimiter(
        TenantQuota(max_query_rps=2), clock=_Clock()
    )  # frozen clock: no refill between calls
    try:
        engine.sql("SELECT count(*) FROM metrics", tenant_id="t1")
        engine.promql_instant("purchase", tenant_id="t1")
        with pytest.raises(QuotaExceeded) as ei:
            engine.sql("SELECT 1", tenant_id="t1")
        assert ei.value.denial.reason == "query_rps"
        # other tenants and tenant-less calls are unaffected
        engine.sql("SELECT count(*) FROM metrics", tenant_id="t2")
        engine.sql("SELECT count(*) FROM metrics")
    finally:
        engine.rate_limiter = None


def test_lifecycle_fed_by_engine_queries(engine):
    """enable_index_lifecycle: filter columns of every engine query bump
    the trial indexes' would-have-helped counters."""
    m = engine.enable_index_lifecycle(promote_threshold=3)
    try:
        # metric_name is always a stats candidate, whatever schema earlier
        # tests re-registered the shared engine with
        idx = m.create_invisible_index("metric_name", "inverted")
        for _ in range(3):
            engine.sql(
                "SELECT count(*) FROM metrics WHERE metric_name = 'purchase'"
            )
        assert m.check_visibility() == [idx]
        specs = m.writer_job_specs()
        assert specs and specs[0]["action"] == "write_partitioned"
        assert specs[0]["partition_by"] == ["metric_name"]
    finally:
        engine.lifecycle = None


def test_engine_snapshot_ingest_and_pinned_read(spark, tmp_path):
    """ingest(snapshot=True) commits each write's files to the manifest
    log; read_snapshot(v) pins a pre-append view while the head moves."""
    import datetime as dt

    from pyspark.sql import Row

    from cardinalsin_spark.engine import CardinalSin

    def batch(lo, hi):
        return spark.createDataFrame(
            [
                Row(
                    t=dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                    name="m",
                    v=float(i),
                )
                for i in range(lo, hi)
            ]
        )

    path = str(tmp_path / "snap_metrics")
    cs = CardinalSin(spark, path)
    cs.ingest(batch(0, 60), "t", "name", "v", snapshot=True)
    cat = cs.snapshot_catalog()
    v0 = cat.current_version()
    assert cs.read_snapshot(v0).count() == 60
    cs.ingest(batch(60, 90), "t", "name", "v", snapshot=True)
    assert cat.current_version() == v0 + 1
    assert cs.read_snapshot().count() == 90  # head
    assert cs.read_snapshot(v0).count() == 60  # pinned pre-append
