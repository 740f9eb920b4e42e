"""Measurement plumbing shared by the three workloads: the run context,
the closed loop, latency summaries and the JVM/disk probes."""

from __future__ import annotations

import gc
import math
import os
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Ctx:
    seed: int
    seconds: float
    work: str  # scratch root of this run, inside the checkout
    tracer: object | None  # spans.Tracer in a traced run


@dataclass
class Loop:
    """Outcome of one closed loop: per-op latencies (ms) of ops that passed
    their checks, failures, and the timed interval."""

    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    elapsed_s: float = 0.0


MAINTENANCE = "maintenance"


def rounds_for(seconds: float, round_s: float) -> int:
    """Rounds of a run: ``--seconds`` turned into a fixed op count with the
    workload's nominal round length on a 4-core host, so every run with the
    same ``--seconds`` does the same work and ends in the same state."""
    return max(1, round(seconds / round_s))


def closed_loop(
    kinds: list[str],
    rounds: int,
    op: Callable[[str, int], object],
    tracer=None,
    between: Callable[[int], object] | None = None,
) -> tuple[Loop, Loop | None]:
    """One client, one op at a time, in whole rounds: one op of every kind
    in a fixed order, so every kind gets the same share of samples.
    ``op(kind, i)`` raises on failure. ``between(round)`` runs after each
    round inside the timed interval: maintenance whose cost counts in
    throughput but stays out of the latency distribution.

    With a tracer the loop runs twice the rounds, alternating traced and
    untraced rounds (traced first), and returns (traced, untraced) loops;
    their difference is the tracing overhead.
    Otherwise it returns (loop, None)."""
    loops = [Loop(), Loop()]
    i = 0
    total = rounds * (2 if tracer is not None else 1)
    if tracer is not None:
        tracer.start_traced()
    for rnd in range(total):
        traced = tracer is not None and rnd % 2 == 0
        out = loops[0] if tracer is None or traced else loops[1]
        if tracer is not None:
            tracer.enabled = traced
        start = time.perf_counter()
        for kind in kinds:
            out.attempted += 1
            if traced:
                tracer.begin_op(f"op{i}", kind)
            t0 = time.perf_counter()
            try:
                op(kind, i)
            except Exception as e:  # a failed op is counted, not fatal
                out.failed += 1
                out.errors.append(f"{kind}#{i}: {type(e).__name__}: {e}"[:300])
            else:
                out.latencies_ms.append((time.perf_counter() - t0) * 1e3)
            finally:
                if traced:
                    tracer.end_op()
            i += 1
        if between is not None:
            if traced:
                tracer.begin_op(f"tick{rnd}", MAINTENANCE)
            try:
                between(rnd)
            finally:
                if traced:
                    tracer.end_op()
        out.elapsed_s += time.perf_counter() - start
    if tracer is not None:
        tracer.enabled = False
        return loops[0], loops[1]
    return loops[0], None


def tail(latencies_ms: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-largest latency. Below 21 samples that
    percentile would not lie above the median, so the maximum is returned
    as p100 instead; only ``ingest_rw`` runs that few ops (see NOTES.md)."""
    xs = sorted(latencies_ms)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def metric(value: float, unit: str) -> dict:
    if not math.isfinite(value) or value <= 0:
        raise ValueError(f"metric value {value!r} is not a positive number")
    return {"value": value, "unit": unit}


def latency_metrics(loop: Loop, work: float) -> dict:
    t, pct = tail(loop.latencies_ms)
    print(
        f"tail_ms is p{pct:.1f} of {len(loop.latencies_ms)} ops"
        f" ({loop.attempted} attempted, {loop.failed} failed,"
        f" {loop.elapsed_s:.2f} s timed)",
        flush=True,
    )
    return {
        "p50_ms": metric(statistics.median(loop.latencies_ms), "ms"),
        "tail_ms": metric(t, "ms"),
        "work_per_s": metric(work / loop.elapsed_s, "1/s"),
    }


def live_heap_mb(spark) -> float:
    """JVM heap in use after forced full collections, once Python has
    dropped its references to JVM objects. Spark's ContextCleaner frees
    the blocks of unreferenced RDDs (evicted checkpointed indexes)
    asynchronously after a collection, and freeing one can release more,
    so the heap falls in steps over several collections and can hold
    still at a step for two of them. Collect a fixed number of times and
    keep the lowest reading."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(10):
        jvm.System.gc()
        time.sleep(0.3)
        readings.append(mx.getHeapMemoryUsage().getUsed() / 1e6)
    return min(readings)


def gc_ms(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_files(*roots: str) -> dict[str, int]:
    """path → size of every regular file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:  # vacuumed between walk and stat
                    pass
    return out


def dir_bytes(*roots: str) -> int:
    return sum(dir_files(*roots).values())


def start_session():
    """The program's own session factory, sized to this host's cores."""
    from cardinalsin_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark
