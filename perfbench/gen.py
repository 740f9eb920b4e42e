"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pandas/bytes: the program under test only
ever receives the frames and payloads these functions return. The same
seed always yields the same inputs.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Fixed epoch for every generated series (2024-01-01T00:00:00Z).
BASE_S = 1_704_067_200
GAUGE = "cpu_usage"
COUNTER = "http_requests_total"


# -- Prometheus remote-write v1 wire format (encoder side) -------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if not n:
            out.append(b)
            return bytes(out)
        out.append(b | 0x80)


def _ld(field_no: int, payload: bytes) -> bytes:
    return _varint(field_no << 3 | 2) + _varint(len(payload)) + payload


def _labels_bytes(labels: dict[str, str]) -> bytes:
    return b"".join(
        _ld(1, _ld(1, k.encode()) + _ld(2, v.encode()))
        for k, v in labels.items()
    )


def _sample(value: float, ts_ms: int) -> bytes:
    return b"\x09" + struct.pack("<d", value) + b"\x10" + _varint(ts_ms)


def write_request(series: list[tuple[bytes, np.ndarray, np.ndarray]]) -> bytes:
    """WriteRequest from (encoded labels, values, ts_ms) per series."""
    out = []
    for labels, values, ts_ms in series:
        body = labels + b"".join(
            _ld(2, _sample(float(v), int(t))) for v, t in zip(values, ts_ms)
        )
        out.append(_ld(1, body))
    return b"".join(out)


# -- the metric fleet shared by dashboard and ingest_rw ---------------------


@dataclass(frozen=True)
class Fleet:
    """Pods nested under services; one gauge and one counter per pod.

    The counter grows linearly in time at a per-pod rate, so any correct
    rate() over it returns exactly that rate."""

    services: np.ndarray  # service label per pod
    pods: np.ndarray  # pod label per pod
    gauge_mean: np.ndarray
    counter_rate: np.ndarray  # per second

    @property
    def n_pods(self) -> int:
        return len(self.pods)


def make_fleet(rng: np.random.Generator, n_services: int, pods_per_service: int) -> Fleet:
    svc = np.repeat(np.arange(n_services), pods_per_service)
    pod_id = rng.permutation(n_services * pods_per_service)
    return Fleet(
        services=np.array([f"svc-{s:02d}" for s in svc]),
        pods=np.array([f"pod-{p:05d}" for p in pod_id]),
        gauge_mean=rng.uniform(10.0, 90.0, len(svc)),
        counter_rate=rng.integers(1, 50, len(svc)) / 4.0,
    )


def scrape_ts_ms(rng: np.random.Generator, n_pods: int, first: int, count: int, every_s: int) -> np.ndarray:
    """(pods × scrapes) ms timestamps: a regular grid plus 1–999 ms jitter,
    so every sample sits strictly inside its grid second."""
    grid = (BASE_S + (first + np.arange(count)) * every_s) * 1000
    return grid[None, :] + rng.integers(1, 1000, (n_pods, count))


def gauge_values(rng: np.random.Generator, fleet: Fleet, shape) -> np.ndarray:
    # a quarter offset keeps every gauge value non-integral, so the store
    # routes all of them to value_f64
    v = fleet.gauge_mean[:, None] + rng.normal(0.0, 5.0, shape)
    return np.floor(v * 4.0) / 4.0 + 0.125


def counter_values(fleet: Fleet, ts_ms: np.ndarray) -> np.ndarray:
    return fleet.counter_rate[:, None] * (ts_ms - BASE_S * 1000) / 1000.0


def store_frame(fleet: Fleet, ts_ms: np.ndarray, gauges: np.ndarray, counters: np.ndarray) -> pd.DataFrame:
    """Long (ts, metric, value, service, pod) frame of both metrics."""
    n, k = ts_ms.shape
    ts = ts_ms.ravel()
    svc = np.repeat(fleet.services, k)
    pod = np.repeat(fleet.pods, k)
    parts = []
    for name, vals in ((GAUGE, gauges), (COUNTER, counters)):
        parts.append(
            pd.DataFrame(
                {
                    "ts": pd.to_datetime(ts, unit="ms", utc=True),
                    "metric": name,
                    "value": vals.ravel(),
                    "service": svc,
                    "pod": pod,
                }
            )
        )
    return pd.concat(parts, ignore_index=True)


def fleet_payloads(fleet: Fleet, ts_ms: np.ndarray, gauges: np.ndarray, counters: np.ndarray, n_payloads: int) -> list[bytes]:
    """The fleet's samples as ``n_payloads`` WriteRequests, pods split
    evenly across them (one remote-write shard each)."""
    out = []
    for chunk in np.array_split(np.arange(fleet.n_pods), n_payloads):
        series = []
        for i in chunk:
            for name, vals in ((GAUGE, gauges), (COUNTER, counters)):
                labels = _labels_bytes(
                    {"__name__": name, "service": fleet.services[i], "pod": fleet.pods[i]}
                )
                series.append((labels, vals[i], ts_ms[i]))
        out.append(write_request(series))
    return out


# -- the registry's star schema (TPC-H-like tables, events, docs, vectors) --

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()


SCALE = 0.01  # TPC-H-style scale factor of the registry tables


def registry_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables the query registry reads (schemas and value
    domains of the registry's sf fixtures) as parquet under ``out_dir``.
    Returns each table's uncompressed Arrow size in bytes, by name."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = int(150_000 * SCALE), int(200_000 * SCALE), int(10_000 * SCALE)
    n_ord, n_line, n_ev = int(1_500_000 * SCALE), int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    n_doc = n_vec = 500

    def i32(x):
        return np.asarray(x, dtype=np.int32)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, n), unit="D")

    tables = {
        "region": {"r_regionkey": i32(range(5)), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice("blue cold hot large new old red small".split(), n_part),
                    rng.choice("anvil bolt gear gizmo plate ring rod widget".split(), n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": days("1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": days("1995-01-02", 2498, n_line),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)), unit="us"),
            "user_id": rng.integers(0, max(150, n_ev // 66), n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }
    docs = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 10, replace=False):
        words = docs[int(rng.integers(0, i))].split()  # a near-copy of an earlier doc
        words[int(rng.integers(0, len(words)))] = "dup"
        docs[i] = " ".join(words)
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": docs,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 7.0, (n_vec, 64))  # weak clusters
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": i32(labels),
        }
    )
    sizes = {}
    for name, cols in tables.items():
        t = cols if isinstance(cols, pa.Table) else pa.Table.from_pandas(pd.DataFrame(cols), preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), coerce_timestamps="us")
        sizes[name] = t.nbytes
    return sizes
