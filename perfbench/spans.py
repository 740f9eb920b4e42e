"""Span tracing for the traced run, installed from the benchmark's side.

``install`` wraps public functions of the program's modules (no
program file changes). Each wrapper records a span — name, start, end,
parent span, op id — kept in memory and reduced to per-layer metrics when
the run ends. A layer's self time is its span's duration minus the time
its child spans cover. Counts (py4j round trips, cache lookups, manifest
reads, files and bytes) are recorded at the same boundaries.

Spans and counts are kept only while ``enabled`` is set: during setup and
the traced rounds of the loop. The untraced rounds of a traced run pay one
attribute check per wrapped call, plus a counter bump per py4j round trip.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

DOOR = "engine.door"
SHAPE = "engine.shape"
EXEC = "spark.exec"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class OpStats:
    kind: str
    py4j: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stage_data: dict = field(default_factory=lambda: defaultdict(float))
    phases_ms: dict = field(default_factory=lambda: defaultdict(float))
    files_scanned: int = 0


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: dict[str, OpStats] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: str | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._qes: list = []  # QueryExecutions of frames run in this op
        self._frames: list = []  # door results of this op
        self._py4j = 0
        self._exec_mark = -1  # last SQL execution id before the current op
        self.spark = None
        self.roots: list[str] = []  # store roots whose new bytes are counted
        self._seen: dict[str, int] = {}

    # -- spans --------------------------------------------------------------

    def _open(self, name: str) -> int:
        self.spans.append(
            Span(name, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None, self._op)
        )
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> Span:
        s = self.spans[idx]
        s.end = time.perf_counter()
        self._stack.pop()
        if s.parent is not None:
            self.spans[s.parent].child_s += s.dur
        return s

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``before(args, kwargs)`` runs ahead of the span and its result is
        passed to ``after(span, args, kwargs, result, state)``, which runs
        once the span is closed (so probes never count as layer time)."""
        static = inspect.getattr_static(owner, attr)
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            state = before(args, kwargs) if before else None
            p0 = tracer._py4j
            idx = tracer._open(name)
            try:
                result = original(*args, **kwargs)
            finally:
                s = tracer._close(idx)
                s.attrs["py4j"] = tracer._py4j - p0
            if after:
                after(s, args, kwargs, result, state)
            return result

        setattr(owner, attr, staticmethod(wrapper) if isinstance(static, staticmethod) else wrapper)
        self._patches.append((owner, attr, static))

    def uninstall(self) -> None:
        for owner, attr, static in reversed(self._patches):
            setattr(owner, attr, static)
        self._patches.clear()

    # -- ops ----------------------------------------------------------------

    def start_traced(self) -> None:
        """Open the traced loop: counts restart, store roots are baselined."""
        self.counts.clear()
        if self.roots:
            self.new_root_bytes()
        self.enabled = True

    def begin_op(self, op_id: str, kind: str) -> None:
        if not self.enabled:
            return
        self._op = op_id
        self.ops[op_id] = OpStats(kind)
        self._qes.clear()
        self._frames.clear()
        self._exec_mark = self._last_execution_id()
        self.spark.sparkContext.setJobGroup(op_id, kind)

    def end_op(self) -> None:
        if not self.enabled or self._op is None:
            return
        op_id, st = self._op, self.ops[self._op]
        self._op = None
        sc = self.spark.sparkContext
        sc.setJobGroup("", "")
        st.py4j = sum(
            s.attrs.get("py4j", 0) for s in self.spans
            if s.op == op_id and s.name == DOOR and s.parent is None
        )
        self._job_stats(op_id, st)
        for qe in self._qes:
            phases = qe.tracker().phases()
            for k in ("analysis", "optimization", "planning"):
                o = phases.get(k)
                if o.isDefined():
                    st.phases_ms[k] += o.get().durationMs()
        for df in self._frames:
            st.files_scanned += len(df.inputFiles())
        self._qes.clear()
        self._frames.clear()
        if self.roots:
            self.counts["root_bytes_written"] += self.new_root_bytes()

    def new_root_bytes(self) -> int:
        from harness import dir_files

        now = dir_files(*self.roots)
        fresh = sum(sz for p, sz in now.items() if p not in self._seen)
        self._seen = now
        return fresh

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        execs = self._sql_store().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def _job_stats(self, op_id: str, st: OpStats) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(op_id)
        st.jobs = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is None or si.numCompletedTasks == 0:
                    continue  # skipped (reused) stage
                st.stages += 1
                st.tasks += si.numTasks
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the status store
                    continue
                st.stage_data["shuffle_read_bytes"] += sd.shuffleReadBytes()
                st.stage_data["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                st.stage_data["spill_bytes"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                )
                st.stage_data["executor_run_ms"] += sd.executorRunTime()
                st.stage_data["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        st.stage_data["python_ms"] += self._python_ms()

    def _python_ms(self) -> float:
        """'time to run Python workers' of the MapInPandas nodes of the SQL
        executions this op started."""
        sql_store = self._sql_store()
        total = 0.0
        execs = sql_store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= self._exec_mark:
                break
            ids = set()
            graph = sql_store.planGraph(e.executionId())
            nodes = graph.allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if "MapInPandas" not in node.name():
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    if ms.apply(m).name() == "time to run Python workers":
                        ids.add(ms.apply(m).accumulatorId())
            if not ids:
                continue
            values = sql_store.executionMetrics(e.executionId())
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += _duration_ms(v.get())
        return total

    # -- reduction ----------------------------------------------------------

    def self_ms(self, name: str, ops: set[str]) -> float:
        return 1e3 * sum(s.self_s for s in self.spans if s.name == name and s.op in ops)

    def total_ms(self, name: str, ops: set[str]) -> float:
        return 1e3 * sum(s.dur for s in self.spans if s.name == name and s.op in ops)

    def calls(self, name: str, ops: set[str]) -> int:
        return sum(1 for s in self.spans if s.name == name and s.op in ops)


_DUR = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _duration_ms(text: str) -> float:
    """A SQL timing metric as the status store formats it: a bare
    duration, or 'total (min, med, max ...)' over the per-task values.
    The first duration after the header is the total."""
    body = text.split("\n", 1)[-1]
    m = _DUR.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)]


# -- the wrapper table ------------------------------------------------------


def install(tracer: Tracer) -> None:
    """Wrap the program's public functions named in the per-layer table."""
    import py4j.clientserver
    import py4j.java_gateway
    from pyspark.core.rdd import RDD
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import cardinalsin_spark.engine as engine
    import cardinalsin_spark.session as session
    from cardinalsin_spark import adaptive, indexes
    from cardinalsin_spark.sources import snapshots, tables

    t = tracer

    for conn in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        original = conn.send_command

        def send_command(self, command, *a, _orig=original, **k):
            t._py4j += 1
            return _orig(self, command, *a, **k)

        conn.send_command = send_command
        t._patches.append((conn, "send_command", original))

    t.wrap(session, "get_spark", "session.start")
    cs = engine.CardinalSin

    def keep_frame(span, args, kwargs, result, state):
        t._frames.append(result)

    for door in ("promql_range", "promql_instant", "sql", "label_values", "series"):
        t.wrap(cs, door, DOOR, after=keep_frame)
    for shape in ("to_prometheus_matrix", "to_json", "to_arrow"):
        t.wrap(cs, shape, SHAPE)
    t.wrap(engine, "promql_range", "promql.plan")
    t.wrap(engine, "promql_instant", "promql.plan")
    t.wrap(adaptive.QueryStatsCollector, "record", "adaptive.record")

    # Spark actions, with the QueryExecution they ran (phase times)
    def keep_qe(span, args, kwargs, result, state):
        t._qes.append(args[0]._jdf.queryExecution())

    t.wrap(DataFrame, "collect", EXEC, after=keep_qe)
    t.wrap(DataFrame, "toArrow", EXEC, after=keep_qe)
    t.wrap(RDD, "collect", EXEC)
    t.wrap(DataFrameWriter, "save", EXEC, after=lambda span, args, kw, res, st: t._qes.append(
        args[0]._df._jdf.queryExecution()))
    original_tojson = DataFrame.toJSON

    def to_json(self, use_unicode: bool = True):
        # DataFrame.toJSON runs through a Dataset of its own; keep its
        # QueryExecution so the phase times of to_json panels are seen
        if not t.enabled:
            return original_tojson(self, use_unicode)
        from pyspark.serializers import UTF8Deserializer

        jds = self._jdf.toJSON()
        t._qes.append(jds.queryExecution())
        return RDD(jds.toJavaRDD(), self._sc, UTF8Deserializer(use_unicode))

    DataFrame.toJSON = to_json
    t._patches.append((DataFrame, "toJSON", original_tojson))

    # write path
    def walk_before(args, kwargs):
        from harness import dir_files

        return dir_files(args[0].metrics_path)

    def walk_after(span, args, kwargs, result, before):
        from harness import dir_files

        new = {p: s for p, s in dir_files(args[0].metrics_path).items() if p not in before}
        t.counts["ingest.files_written"] += sum(1 for p in new if p.endswith(".parquet"))
        t.counts["ingest.bytes_written"] += sum(new.values())

    t.wrap(cs, "ingest", "engine.ingest", before=walk_before, after=walk_after)
    t.wrap(engine, "normalize_to_metrics", "ingest.normalize")
    t.wrap(engine, "write_metrics", "ingest.write")
    t.wrap(engine, "register_metrics", "ingest.register")

    cat = snapshots.SnapshotCatalog

    def count_manifests(args, kwargs):
        return t.counts["manifest_reads"]

    def after_commit(span, args, kwargs, result, before):
        span.attrs["manifests"] = t.counts["manifest_reads"] - before
        span.attrs["head_files"] = len(args[0].manifest()["files"])

    t.wrap(cat, "commit_new_files", "snapshots.commit", before=count_manifests, after=after_commit)

    original_get = snapshots.LocalFsCas.get

    def cas_get(self, key):
        if t.enabled:
            t.counts["manifest_reads"] += 1
        return original_get(self, key)

    snapshots.LocalFsCas.get = cas_get
    t._patches.append((snapshots.LocalFsCas, "get", original_get))

    def after_compact(span, args, kwargs, result, state):
        span.attrs["bytes"] = sum(os.path.getsize(p) for p in args[0].files())

    t.wrap(cat, "compact", "snapshots.compact", after=after_compact)
    t.wrap(cat, "vacuum", "snapshots.vacuum")

    def refresh_mode(args, kwargs):
        self_, root = args[0], args[1]
        base = self_.snapshot_catalog()
        if not snapshots.snapshot_managed(root):
            return "bootstrap"
        last = snapshots.SnapshotCatalog(root).manifest().get("rollup_base_version")
        head = base.current_version()
        if last is None or base.diff(last, head)["removed"]:
            return "rebuild"
        return "noop" if last >= head else "incremental"

    def after_refresh(span, args, kwargs, result, mode):
        span.attrs["mode"] = mode

    t.wrap(cs, "refresh_rollup", "rollup.refresh", before=refresh_mode, after=after_refresh)

    # schema caches: a lookup hits when the cache did not grow
    def meta_before(args, kwargs):
        return len(tables._READ_CACHE)

    def meta_after(span, args, kwargs, result, before):
        t.counts["schema_cache_lookups"] += 1
        t.counts["schema_cache_hits"] += len(tables._READ_CACHE) == before

    t.wrap(tables, "read_parquet_meta_cached", "tables.read_meta", before=meta_before, after=meta_after)

    def grouped_before(args, kwargs):
        return len(snapshots._GROUP_SCHEMA_CACHE)

    def grouped_after(span, args, kwargs, result, before):
        root, paths = args[1], args[2]
        groups = len({snapshots._partition_keys_of(root, p) for p in paths})
        grew = max(0, len(snapshots._GROUP_SCHEMA_CACHE) - before)
        t.counts["schema_cache_lookups"] += groups
        t.counts["schema_cache_hits"] += groups - min(grew, groups)

    t.wrap(snapshots, "read_parquet_grouped", "tables.read_grouped", before=grouped_before, after=grouped_after)

    # a build call that finds its entry is a read of the stored index
    def index_before(args, kwargs):
        idx, spark, dataset = args[0], args[1], args[2]
        return idx._key(spark, dataset) in idx._entries

    def index_after(span, args, kwargs, result, hit):
        span.attrs["hit"] = hit

    t.wrap(indexes.StoredIndex, "build", "indexes.build", before=index_before, after=index_after)
