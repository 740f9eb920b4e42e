"""``ingest_rw``: Prometheus remote-write batches landing beside reads.

Each op lands one seeded batch — every series of the fleet for a few
scrapes, encoded as remote-write v1 payloads — through
``sources.remote_write.remote_write_flatten`` and
``CardinalSin.ingest(snapshot=True)``, and ends when a read-your-write
PromQL count over the batch window sees exactly the batch's samples.
After every round of batches a maintenance tick runs inline:
``refresh_rollup``, then ``SnapshotCatalog.compact``, then ``vacuum``.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import harness

N_SERVICES = 10
PODS_PER_SERVICE = 20
SCRAPE_S = 15
SCRAPES_PER_BATCH = 4
WINDOW_S = SCRAPE_S * SCRAPES_PER_BATCH  # divides a day: windows align to buckets
SHARDS = 4  # payloads per batch, one per remote-write shard
HISTORY_BATCHES = 16  # bulk-loaded during setup: 16 minutes
BATCHES_PER_TICK = 4
ROUND_S = 7.0  # nominal seconds per round (batches + tick) on a 4-core host
WARM_BATCHES = 2  # one before and one after the first, cold tick
KINDS = ["batch"] * BATCHES_PER_TICK


class Feed:
    """Seeded remote-write batches, generated before any timing starts."""

    def __init__(self, seed: int, n_batches: int):
        rng = np.random.default_rng(seed)
        self.fleet = gen.make_fleet(rng, N_SERVICES, PODS_PER_SERVICE)
        self.history = self._encode(rng, 0, HISTORY_BATCHES, 16)
        self.batches = [
            self._encode(rng, HISTORY_BATCHES + b, 1, SHARDS) for b in range(n_batches)
        ]
        self.next = 0

    def _encode(self, rng, first_batch: int, n: int, shards: int) -> tuple[list[bytes], int, int]:
        ts = gen.scrape_ts_ms(
            rng, self.fleet.n_pods, first_batch * SCRAPES_PER_BATCH, n * SCRAPES_PER_BATCH, SCRAPE_S
        )
        g = gen.gauge_values(rng, self.fleet, ts.shape)
        c = gen.counter_values(self.fleet, ts)
        payloads = gen.fleet_payloads(self.fleet, ts, g, c, shards)
        return payloads, 2 * ts.size, gen.BASE_S + first_batch * WINDOW_S

    def take(self) -> tuple[list[bytes], int, int]:
        b = self.batches[self.next]
        self.next += 1
        return b


class Lane:
    """The engine, its store roots, and the two paths an op drives."""

    def __init__(self, spark, work: str):
        from cardinalsin_spark.engine import CardinalSin

        self.spark = spark
        self.metrics_root = os.path.join(work, "metrics")
        self.rollup_root = os.path.join(work, "rollup")
        self.cs = CardinalSin(spark, self.metrics_root)
        self.wire_bytes = 0

    def land(self, payloads: list[bytes]) -> None:
        from pyspark.sql import functions as F

        from cardinalsin_spark.sources.remote_write import remote_write_flatten

        df = self.spark.createDataFrame([(bytearray(p),) for p in payloads], "payload binary")
        flat = remote_write_flatten(df)
        cols = flat.select(
            F.timestamp_millis("ts_ms").alias("ts"),
            "metric_name",
            "value",
            F.col("labels")["service"].alias("service"),
            F.col("labels")["pod"].alias("pod"),
        )
        self.cs.ingest(cols, "ts", "metric_name", "value", {"service": "service", "pod": "pod"}, snapshot=True)
        self.wire_bytes += sum(len(p) for p in payloads)

    def read_your_write(self, start_s: int, n: int) -> None:
        rows = self.cs.promql_range(
            f'count({{__name__=~"{gen.GAUGE}|{gen.COUNTER}"}})', start_s, start_s + WINDOW_S - 1e-3, WINDOW_S
        ).collect()
        got = sorted((r.metric_name, r.value) for r in rows)
        want = sorted((m, n // 2) for m in (gen.GAUGE, gen.COUNTER))
        if got != want:
            raise AssertionError(f"read-your-write over [{start_s}, +{WINDOW_S}s): {got} != {want}")

    def reopen(self) -> None:
        from cardinalsin_spark.engine import CardinalSin

        self.cs = CardinalSin(self.spark, self.metrics_root)
        self.cs.attach_rollup(self.rollup_root, subsecond=True)

    def tick(self) -> None:
        """Maintenance in the documented working order: a refresh after a
        vacuum that dropped the rollup's base version would fail."""
        self.cs.refresh_rollup(self.rollup_root, 3600)
        cat = self.cs.snapshot_catalog()
        cat.compact(self.spark)
        cat.vacuum()
        self.reopen()


def run(ctx: harness.Ctx) -> dict:
    rounds = harness.rounds_for(ctx.seconds, ROUND_S)
    loop_rounds = rounds * (2 if ctx.tracer is not None else 1)
    feed = Feed(ctx.seed, WARM_BATCHES + BATCHES_PER_TICK * loop_rounds)
    tracer = ctx.tracer
    t0 = time.perf_counter()
    if tracer is not None:
        tracer.enabled = True
    spark = harness.start_session()
    if tracer is not None:
        tracer.spark = spark
    lane = Lane(spark, ctx.work)
    lane.land(feed.history[0])
    lane.cs.snapshot_catalog().compact(spark)
    lane.cs.refresh_rollup(lane.rollup_root, 3600)
    lane.reopen()
    # warm every path before timing. The first tick runs several times
    # slower than later ones and slows the batch after it, so a warm batch
    # follows it and the first timed batch is like every other.
    for k in range(WARM_BATCHES):
        payloads, n, start = feed.take()
        lane.land(payloads)
        lane.read_your_write(start, n)
        if k == 0:
            lane.tick()
    setup_s = time.perf_counter() - t0

    landed: dict[int, tuple[int, int]] = {}  # op index → (samples, wire bytes)

    def op(kind: str, i: int):
        payloads, n, start = feed.take()
        lane.land(payloads)
        lane.read_your_write(start, n)
        landed[i] = (n, sum(len(p) for p in payloads))

    if tracer is not None:
        tracer.roots = [lane.metrics_root, lane.rollup_root]
    gc0 = harness.gc_ms(spark)
    loop, base = harness.closed_loop(KINDS, rounds, op, tracer, between=lambda rnd: lane.tick())
    gc1 = harness.gc_ms(spark)
    heap = harness.live_heap_mb(spark)

    traced = {int(k[2:]) for k in (tracer.ops if tracer is not None else ()) if k.startswith("op")}
    samples = sum(n for i, (n, _) in landed.items() if tracer is None or i in traced)
    metrics = {"setup_s": harness.metric(setup_s, "s")}
    metrics.update(harness.latency_metrics(loop, samples))
    metrics["space_amp"] = harness.metric(
        harness.dir_bytes(lane.metrics_root, lane.rollup_root) / lane.wire_bytes, "ratio"
    )
    metrics["live_heap_mb"] = harness.metric(heap, "MB")
    layers = None
    if tracer is not None:
        import report

        user = sum(b for i, (_, b) in landed.items() if i in traced)
        layers = report.layers(
            tracer, spark, loop, base, (gc1 - gc0) / (loop.attempted + base.attempted),
            user_bytes=user, work=(samples, sum(n for _, (n, _) in landed.items()) - samples),
        )
    return {"loop": loop, "base": base, "metrics": metrics, "layers": layers, "checks_s": 0.0}
