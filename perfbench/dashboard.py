"""``dashboard``: a Grafana-style panel loop over a fixed store.

The store is a seeded fleet (services × pods, a gauge and a counter per
pod, millisecond-jittered scrapes) bulk-loaded through
``CardinalSin.ingest(snapshot=True)``, compacted, and served with an
attached hourly rollup. Five panel kinds share the loop equally; each
answer is shaped as the HTTP API shapes it and checked, after the timed
interval, against pandas over the generated samples.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pandas as pd

import gen
import harness

N_SERVICES = 20
PODS_PER_SERVICE = 50
SCRAPE_S = 120
HOURS = 4
KINDS = ["rollup", "irate", "topk", "labels", "sql"]
ROUND_S = 1.75  # nominal seconds per round of KINDS on a 4-core host
WARM_ROUNDS = 2


class Store:
    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng(seed)
        self.fleet = gen.make_fleet(rng, N_SERVICES, PODS_PER_SERVICE)
        n = HOURS * 3600 // SCRAPE_S
        self.ts_ms = gen.scrape_ts_ms(rng, self.fleet.n_pods, 0, n, SCRAPE_S)
        gauges = gen.gauge_values(rng, self.fleet, self.ts_ms.shape)
        counters = gen.counter_values(self.fleet, self.ts_ms)
        self.frame = gen.store_frame(self.fleet, self.ts_ms, gauges, counters)
        self.wire_bytes = sum(len(p) for p in gen.fleet_payloads(self.fleet, self.ts_ms, gauges, counters, 1))
        self.input = os.path.join(work, "input.parquet")
        self.frame.to_parquet(self.input, index=False, coerce_timestamps="us")
        g = self.frame[self.frame.metric == gen.GAUGE].copy()
        g["ts_ms"] = self.ts_ms.ravel()
        self.gauge = g
        self.rate = dict(zip(self.fleet.pods, self.fleet.counter_rate))
        self.params = np.random.default_rng(seed + 1)

    def pods_of(self, service: str) -> set[str]:
        return set(self.fleet.pods[self.fleet.services == service])

    def service(self) -> str:
        return f"svc-{int(self.params.integers(N_SERVICES)):02d}"


class Panels:
    """The five panel kinds: ``run`` times the door call through the shaped
    response; ``check`` recomputes the answer from the generated samples."""

    def __init__(self, cs, store: Store, rollup_root: str):
        self.cs = cs
        self.store = store
        self.rollup_root = rollup_root

    def params(self, kind: str) -> dict:
        p = self.store.params
        if kind == "rollup":
            return {"start": gen.BASE_S + 3600 * int(p.integers(0, 2)), "hours": HOURS - 1}
        if kind == "irate":
            return {"service": self.store.service(), "start": gen.BASE_S + 3600 * int(p.integers(0, HOURS - 1))}
        if kind == "topk":
            return {"service": self.store.service(), "t": gen.BASE_S + int(p.integers(3600, HOURS * 3600))}
        if kind == "labels":
            return {"service": self.store.service()}
        return {"h0": int(p.integers(0, HOURS - 2))}

    def door(self, kind: str, a: dict):
        cs = self.cs
        if kind == "rollup":
            # a sub-second store routes only on micro-exact bucket ends
            end = a["start"] + a["hours"] * 3600 - 1e-6
            return cs.promql_range(f"sum by (service) ({gen.GAUGE})", a["start"], end, 3600)
        if kind == "irate":
            q = f'sum by (pod) (irate({gen.COUNTER}{{service="{a["service"]}"}}[5m]))'
            return cs.promql_range(q, a["start"], a["start"] + 3600, 300)
        if kind == "topk":
            return cs.promql_instant(f'topk by (pod) (5, {gen.GAUGE}{{service="{a["service"]}"}})', a["t"])
        if kind == "labels":
            return cs.label_values("pod", match=f'{gen.GAUGE}{{service="{a["service"]}"}}')
        lo = pd.Timestamp((gen.BASE_S + a["h0"] * 3600) * 10**9).strftime("%Y-%m-%d %H:%M:%S")
        hi = pd.Timestamp((gen.BASE_S + (a["h0"] + 2) * 3600) * 10**9).strftime("%Y-%m-%d %H:%M:%S")
        return cs.sql(
            "SELECT service, count(*) AS n, sum(value_f64) AS total FROM metrics"
            f" WHERE metric_name = '{gen.GAUGE}' AND timestamp >= TIMESTAMP '{lo}'"
            f" AND timestamp < TIMESTAMP '{hi}' GROUP BY service"
        )

    def run(self, kind: str, a: dict):
        df = self.door(kind, a)
        if kind in ("rollup", "irate"):
            return self.cs.to_prometheus_matrix(df)
        if kind == "sql":
            return self.cs.to_arrow(df)
        return self.cs.to_json(df)

    def check(self, kind: str, a: dict, out) -> None:
        g = self.store.gauge
        if kind == "rollup":
            lo = a["start"] * 1000
            sub = g[(g.ts_ms >= lo) & (g.ts_ms < lo + a["hours"] * 3_600_000)]
            want = sub.groupby(["service", (sub.ts_ms - lo) // 3_600_000]).value.sum()
            _expect(len(out) == N_SERVICES, f"rollup: {len(out)} series")
            for s in out:
                svc = s["metric"]["service"]
                _expect(len(s["values"]) == a["hours"], f"rollup {svc}: {len(s['values'])} points")
                for t, v in s["values"]:
                    _close(float(v), want[(svc, (int(t) - a["start"]) // 3600)], f"rollup {svc}@{t}")
        elif kind == "irate":
            pods = self.store.pods_of(a["service"])
            _expect({s["metric"]["pod"] for s in out} == pods, "irate: series set")
            for s in out:
                rate = self.store.rate[s["metric"]["pod"]]
                _expect(len(s["values"]) >= 12, f"irate: {len(s['values'])} points")
                for _, v in s["values"]:
                    _close(float(v), rate, f"irate {s['metric']['pod']}")
        elif kind == "topk":
            sub = g[(g.service == a["service"]) & (g.ts_ms <= a["t"] * 1000)]
            means = sub.groupby("pod").value.mean()
            rows = [json.loads(r) for r in out]
            _expect(len(rows) == 5, f"topk: {len(rows)} rows")
            want = sorted(means.values, reverse=True)[:5]
            for r, w in zip(rows, want):
                _close(r["value"], w, "topk order")
                _close(r["value"], means[r["pod"]], f"topk {r['pod']}")
        elif kind == "labels":
            got = [json.loads(r)["pod"] for r in out]
            _expect(got == sorted(self.store.pods_of(a["service"])), "label_values")
        else:
            lo = (gen.BASE_S + a["h0"] * 3600) * 1000
            sub = g[(g.ts_ms >= lo) & (g.ts_ms < lo + 2 * 3_600_000)]
            want = sub.groupby("service").value.agg(["count", "sum"])
            got = out.to_pandas().set_index("service")
            _expect(len(got) == N_SERVICES, f"sql: {len(got)} groups")
            for svc, row in got.iterrows():
                _expect(row.n == want.loc[svc, "count"], f"sql count {svc}")
                _close(row.total, want.loc[svc, "sum"], f"sql sum {svc}")

    def rollup_served(self, a: dict) -> bool:
        files = self.door("rollup", a).inputFiles()
        return bool(files) and all(self.rollup_root in f for f in files)


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def _close(got: float, want: float, what: str) -> None:
    if not math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9):
        raise AssertionError(f"{what}: got {got!r}, want {want!r}")


def setup(ctx: harness.Ctx, store: Store):
    from cardinalsin_spark.engine import CardinalSin

    spark = harness.start_session()
    if ctx.tracer is not None:
        ctx.tracer.spark = spark
    metrics_root = os.path.join(ctx.work, "metrics")
    rollup_root = os.path.join(ctx.work, "rollup")
    cs = CardinalSin(spark, metrics_root)
    cs.ingest(
        spark.read.parquet(store.input), "ts", "metric", "value",
        {"service": "service", "pod": "pod"}, snapshot=True,
    )
    cs.snapshot_catalog().compact(spark)
    cs = CardinalSin(spark, metrics_root)  # re-register the compacted head
    cs.refresh_rollup(rollup_root, 3600)
    cs.attach_rollup(rollup_root, subsecond=True)
    return spark, cs, [metrics_root, rollup_root]


def run(ctx: harness.Ctx) -> dict:
    store = Store(ctx.seed, ctx.work)
    tracer = ctx.tracer
    t0 = time.perf_counter()
    if tracer is not None:
        tracer.enabled = True  # setup spans: session start, rollup bootstrap
    spark, cs, roots = setup(ctx, store)
    panels = Panels(cs, store, roots[1])
    for _ in range(WARM_ROUNDS):  # warm every panel kind before timing
        for kind in KINDS:
            panels.run(kind, panels.params(kind))
    setup_s = time.perf_counter() - t0

    done: list[tuple[str, dict, object]] = []

    def op(kind: str, i: int):
        a = panels.params(kind)
        done.append((kind, a, panels.run(kind, a)))

    gc0 = harness.gc_ms(spark)
    loop, base = harness.closed_loop(KINDS, harness.rounds_for(ctx.seconds, ROUND_S), op, tracer)
    gc1 = harness.gc_ms(spark)
    heap = harness.live_heap_mb(spark)

    t_checks = time.perf_counter()
    # output checks, outside the timed interval
    served = eligible = 0
    for kind, a, out in done:
        try:
            panels.check(kind, a, out)
            if kind == "rollup":
                eligible += 1
                ok = panels.rollup_served(a)
                served += ok
                _expect(ok, "rollup panel scanned raw data")
        except AssertionError as e:
            loop.failed += 1
            loop.errors.append(f"{kind}: {e}")
    if served != eligible:
        print(f"FAIL: engine.rollup_served_ratio = {served}/{eligible}", flush=True)

    checks_s = time.perf_counter() - t_checks
    metrics = {"setup_s": harness.metric(setup_s, "s")}
    metrics.update(harness.latency_metrics(loop, len(loop.latencies_ms)))
    metrics["space_amp"] = harness.metric(harness.dir_bytes(*roots) / store.wire_bytes, "ratio")
    metrics["live_heap_mb"] = harness.metric(heap, "MB")
    layers = None
    if tracer is not None:
        import report

        n_ops = loop.attempted + base.attempted
        layers = report.layers(tracer, spark, loop, base, (gc1 - gc0) / n_ops, served / max(eligible, 1))
    return {"loop": loop, "base": base, "metrics": metrics, "layers": layers, "checks_s": checks_s}
