"""The remote-write write path: driver-side decode of driver-resident
payloads, the shuffle-free write of a local frame, and the schema stored
in the snapshot manifest so registration reads no footer."""

from __future__ import annotations

import math
import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cardinalsin_spark.sources import remote_write as rw
from cardinalsin_spark.sources.snapshots import SnapshotCatalog, read_parquet_grouped
from tests.test_ingest_adapters import (
    _ld,
    _sample,
    _varint,
    _write_request,
    _write_request_v2,
)

STALE_NAN = float("nan")


def _v2_with_ct(labels: dict, samples: list, ct_ms: int) -> bytes:
    symbols = [""]
    refs = []
    for k, v in labels.items():
        for sym in (k, v):
            if sym not in symbols:
                symbols.append(sym)
        refs.extend((symbols.index(k), symbols.index(v)))
    ts = _ld(1, b"".join(_varint(r) for r in refs))
    ts += b"".join(_ld(2, _sample(v, t)) for v, t in samples)
    ts += _varint(6 << 3 | 0) + _varint(ct_ms)
    return b"".join(_ld(4, s.encode()) for s in symbols) + _ld(5, ts)


V1 = [
    _write_request([
        ({"__name__": "cpu", "host": "a"}, [(0.5, 1_000), (STALE_NAN, 2_000)]),
        ({"__name__": "mem"}, [(-3.0, 1_500)]),
    ]),
    _write_request([({"__name__": "cpu", "host": "b", "env": "p"}, [(7.0, 3_000)])]),
]
V2 = [
    _write_request_v2([({"__name__": "up", "job": "api"}, [(1.0, 4_000), (0.0, 5_000)])]),
    _v2_with_ct({"__name__": "req_total", "svc": "a"}, [(5.0, 1_000), (9.0, 2_000)], 400),
    _v2_with_ct({"__name__": "req_total", "svc": "a"}, [(6.0, 1_100)], 400),
    _v2_with_ct({"__name__": "req_total", "svc": "b"}, [(3.0, 1_500)], 700),
]
GARBAGE = [b"\xff" * 16, V1[0][: len(V1[0]) // 2]]

CASES = {
    "v1": (V1 + GARBAGE, dict(version=1)),
    "v2": (V2 + GARBAGE, dict(version=2)),
    "auto": (V1 + V2 + GARBAGE, dict(version="auto")),
    "created_zero": (V2 + V2 + GARBAGE, dict(version=2, created_zero=True)),
    "created_zero_flag": (
        V2 + V2 + GARBAGE,
        dict(version="auto", created_zero=True, keep_injected_flag=True),
    ),
}


def _canon(rows) -> list[tuple]:
    out = []
    for r in rows:
        d = r.asDict()
        v = d.pop("value")
        labels = tuple(sorted(d.pop("labels").items()))
        out.append((
            d.pop("ts_ms"), d.pop("metric_name"), v is None, v or 0.0, labels,
            tuple(sorted(d.items())),
        ))
    return sorted(out)


@pytest.fixture()
def accumulators(spark, monkeypatch):
    """Every accumulator created while the test runs, in order."""
    sc_type = type(spark.sparkContext)
    original = sc_type.accumulator
    made = []

    def record(self, value, accum_param=None):
        acc = original(self, value, accum_param)
        made.append(acc)
        return acc

    monkeypatch.setattr(sc_type, "accumulator", record)
    return made


def _frames(spark, payloads, tmp_path):
    local = spark.createDataFrame([(bytearray(p),) for p in payloads], "payload binary")
    path = str(tmp_path / "payloads")
    local.write.mode("overwrite").parquet(path)
    return local, spark.read.parquet(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_decode_matches_map_in_pandas(spark, tmp_path, accumulators, case):
    payloads, kw = CASES[case]
    local, files = _frames(spark, payloads, tmp_path)
    assert rw._driver_resident(local) and not rw._driver_resident(files)

    on_driver = rw.remote_write_flatten(local, **kw)
    driver_skips = accumulators[-1].value
    in_workers = rw.remote_write_flatten(files, **kw)
    assert "MapInPandas" not in _plan(on_driver)
    assert "MapInPandas" in _plan(in_workers)
    assert on_driver.schema == in_workers.schema
    got, want = _canon(on_driver.collect()), _canon(in_workers.collect())
    assert got == want
    assert driver_skips == accumulators[-1].value == len(GARBAGE)
    # the stale-marker NaN lands as null on both paths
    if case in ("v1", "auto"):
        assert sum(1 for r in got if r[2]) == 1
    if kw.get("created_zero"):
        zeros = [r for r in got if r[1] == "req_total" and r[3] == 0.0]
        assert sorted(r[0] for r in zeros) == [400, 700]  # one per series


def test_driver_decode_raise(spark, tmp_path):
    local, files = _frames(spark, V1 + GARBAGE, tmp_path)
    with pytest.raises(ValueError):
        rw.remote_write_flatten(local, on_error="raise")  # eager on the driver
    lazy = rw.remote_write_flatten(files, on_error="raise")
    with pytest.raises(Exception, match="ValueError"):
        lazy.collect()


def test_other_frames_keep_map_in_pandas(spark, tmp_path):
    local, files = _frames(spark, V1, tmp_path)
    stream = spark.readStream.schema(files.schema).parquet(str(tmp_path / "payloads"))
    flat = rw.remote_write_flatten(stream)
    assert flat.isStreaming and "MapInPandas" in _plan(flat)
    # a projection over distributed data is not driver-resident either
    assert not rw._driver_resident(local.union(files))
    assert not rw._driver_resident(spark.range(3))
    # an Arrow-built frame is a local relation
    pdf = local.toPandas()
    assert rw._driver_resident(spark.createDataFrame(local.toArrow()))
    assert rw._driver_resident(spark.createDataFrame(pdf))


def test_to_metrics_decodes_each_payload_once(spark, monkeypatch):
    calls = []
    original = rw.decode_write_request

    def counting(payload):
        calls.append(len(payload))
        return original(payload)

    monkeypatch.setattr(rw, "decode_write_request", counting)
    df = spark.createDataFrame([(bytearray(p),) for p in V1], "payload binary")
    out = rw.remote_write_to_metrics(df)  # label_keys=None: key discovery
    rows = out.collect()
    out.count()
    assert len(calls) == len(V1)
    assert sorted(c for c in out.columns if c in ("env", "host")) == ["env", "host"]
    assert len(rows) == 4


def _job_count(spark, fn) -> tuple[int, int]:
    """(jobs, stages) the call runs."""
    sc = spark.sparkContext
    group = f"write-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    return len(jobs), stages


def _batch(spark, hour0: int, n: int, labels: dict[str, str]):
    """A driver-decoded remote-write batch: n samples a minute apart per
    series, starting at ``hour0`` hours past 2024-01-01."""
    base = 1_704_067_200_000 + hour0 * 3_600_000
    series = [
        ({"__name__": "up", "pod": f"p{i}", **labels},
         [(float(i) + 0.5, base + k * 60_000) for k in range(n)])
        for i in range(3)
    ]
    df = spark.createDataFrame([(bytearray(_write_request(series)),)], "payload binary")
    flat = rw.remote_write_flatten(df)
    cols = [F.col("labels")[k].alias(k) for k in ("pod", *labels)]
    return flat.select(F.timestamp_millis("ts_ms").alias("ts"), "metric_name", "value", *cols)


def _engine(spark, tmp_path, name):
    from cardinalsin_spark.engine import CardinalSin

    return CardinalSin(spark, str(tmp_path / name), view_name=f"wp_{name}")


def _ingest(cs, df, labels):
    cs.ingest(df, "ts", "metric_name", "value", {k: k for k in ("pod", *labels)}, snapshot=True)


def test_local_write_is_one_job_one_file_per_partition(spark, tmp_path):
    from cardinalsin_spark.sources.ingest import is_local, normalize_to_metrics, write_metrics

    m = normalize_to_metrics(_batch(spark, 0, 90, {}), "ts", "metric_name", "value", {"pod": "pod"})
    assert is_local(m)
    path = str(tmp_path / "m")
    jobs, stages = _job_count(spark, lambda: write_metrics(m, path))
    assert (jobs, stages) == (1, 1)  # no shuffle
    files = [
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    assert sorted(f.split(os.sep)[1] for f in files) == ["hour=0", "hour=1"]
    got = spark.read.parquet(path)
    assert got.count() == 270
    assert sorted(map(tuple, got.select("ts_ns", "pod", "value_f64").collect())) == sorted(
        map(tuple, m.select("ts_ns", "pod", "value_f64").collect())
    )


def _inferred(spark, cat, version=None):
    return read_parquet_grouped(spark, cat.root, cat.files(version))


def _assert_same_read(stored, inferred):
    assert {f.name: f.dataType for f in stored.schema} == {
        f.name: f.dataType for f in inferred.schema
    }
    cols = sorted(inferred.columns)
    assert Counter(map(tuple, stored.select(cols).collect())) == Counter(
        map(tuple, inferred.select(cols).collect())
    )


def test_ingest_stores_schema_and_new_label_widens_it(spark, tmp_path):
    from cardinalsin_spark.sources.ingest import register_metrics

    cs = _engine(spark, tmp_path, "widen")
    _ingest(cs, _batch(spark, 0, 5, {}), [])
    cat = cs.snapshot_catalog()
    names = list(cat.manifest()["schema"])
    assert names[-2:] == ["date", "hour"] and "pod" in names
    _ingest(cs, _batch(spark, 1, 5, {"region": "eu"}), ["region"])
    names2 = list(cat.manifest()["schema"])
    assert names2 == names + ["region"]
    jobs, _ = _job_count(spark, lambda: register_metrics(spark, cs.metrics_path, "wp_reg"))
    assert jobs == 0  # no footer job
    _assert_same_read(cat.read(spark), _inferred(spark, cat))
    assert cs.metrics.filter(F.col("region") == "eu").count() == 15


def test_stored_schema_after_compact_and_vacuum(spark, tmp_path):
    cs = _engine(spark, tmp_path, "cv")
    cat = cs.snapshot_catalog()
    _ingest(cs, _batch(spark, 0, 5, {}), [])
    _ingest(cs, _batch(spark, 1, 5, {"region": "eu"}), ["region"])
    cat.compact(spark)
    assert "schema" in cat.manifest()
    _assert_same_read(cat.read(spark), _inferred(spark, cat))
    _ingest(cs, _batch(spark, 2, 5, {"zone": "z1"}), ["zone"])
    cat.vacuum(keep_last=1)
    assert "zone" in list(cat.manifest()["schema"])
    _assert_same_read(cat.read(spark), _inferred(spark, cat))
    assert cat.read(spark).count() == 45


def test_schemaless_manifests_fall_back_to_inference(spark, tmp_path):
    from cardinalsin_spark.sources.ingest import normalize_to_metrics, write_metrics

    # a table that predates the manifest log: bootstrap stores no schema,
    # and an ingest on top cannot know the old files' columns
    root = str(tmp_path / "legacy")
    legacy = normalize_to_metrics(
        _batch(spark, 0, 5, {"dc": "x"}), "ts", "metric_name", "value",
        {"pod": "pod", "dc": "dc"},
    )
    write_metrics(legacy, root)
    cat = SnapshotCatalog(root)
    cat.init_from_directory()
    assert "schema" not in cat.manifest()
    from cardinalsin_spark.engine import CardinalSin

    cs = CardinalSin(spark, root, view_name="wp_legacy")
    _ingest(cs, _batch(spark, 1, 5, {}), [])
    assert "schema" not in cat.manifest()
    assert "dc" in cs.metrics.columns and cs.metrics.count() == 30
    # compaction stores the schema it rewrote; append_ct_idempotent's
    # append does not
    cat.compact(spark)
    assert "schema" in cat.manifest()
    flagged = cat.read(spark).limit(3).withColumn("_ct_injected", F.lit(False))
    rw.append_ct_idempotent(spark, cat, flagged)
    assert "schema" not in cat.manifest()
    _assert_same_read(cat.read(spark), _inferred(spark, cat))


def test_conflicting_or_uncovered_schema_is_not_stored(spark, tmp_path):
    root = str(tmp_path / "conflict")
    spark.range(3).select(F.col("id").alias("n"), F.lit("a").alias("s")).write.parquet(root)
    cat = SnapshotCatalog(root)
    declared = StructType([StructField("n", LongType()), StructField("s", StringType())])
    cat.commit_new_files(schema=declared)
    assert cat.manifest()["schema"] == {"n": "long", "s": "string"}
    # a commit declaring another type for a column stores nothing
    spark.range(3, 5).select(F.col("id").alias("n"), F.lit("b").alias("s")).write.mode(
        "append").parquet(root)
    cat.commit_new_files(schema=StructType([StructField("n", StringType())]))
    assert "schema" not in cat.manifest()
    _assert_same_read(cat.read(spark), _inferred(spark, cat))

    # a file whose footer names a column the declared schema lacks (one
    # another writer landed) leaves the commit to inference as well
    root2 = str(tmp_path / "uncovered")
    spark.range(2).select(F.col("id").alias("n"), F.lit("a").alias("s")).write.parquet(root2)
    cat2 = SnapshotCatalog(root2)
    cat2.commit_new_files(schema=StructType([StructField("n", LongType())]))
    assert "schema" not in cat2.manifest()
    assert sorted(cat2.read(spark).columns) == ["n", "s"]


def test_remote_write_batch_ingest_is_exact(spark, tmp_path):
    """A batch landed through the driver decode reads back exactly."""
    cs = _engine(spark, tmp_path, "exact")
    _ingest(cs, _batch(spark, 0, 4, {}), [])
    got = sorted(
        (r.pod, r.value_f64, r.ts_ns)
        for r in cs.metrics.select("pod", "value_f64", "ts_ns").collect()
    )
    base = 1_704_067_200_000
    want = sorted(
        (f"p{i}", i + 0.5, (base + k * 60_000) * 1_000_000)
        for i in range(3) for k in range(4)
    )
    assert got == want
    assert not any(math.isnan(v) for _, v, _ in got)
