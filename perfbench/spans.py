"""Spans for the delivery-path benchmark, kept in memory and resolved
against Spark's status store when the run ends.

Every span gets its own Spark job group, so each Spark job belongs to
exactly one span: the innermost one open on the submitting thread.  The
engine's part-writer threads inherit the group through
``inheritable_thread_target``, so their jobs land on the span that
started them.  A span's parent is found from the job group that was
current when it opened, which works across those threads too.

The benchmark's own root spans (one per delivery, poll, read, ...) are
always recorded: they give the job count per delivery.  The per-layer
spans exist only in the traced run, where :func:`install` wraps the
engine's public functions from here, without touching the package.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("name", "gid", "parent", "start", "end", "jobs", "children")

    def __init__(self, name, gid, parent, start):
        self.name, self.gid, self.parent, self.start = name, gid, parent, start
        self.end = start
        self.jobs: list[int] = []
        self.children: list[Span] = []


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._by_gid: dict[str, Span] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        #: spans open only while True (set around the measured loop)
        self.recording = False
        #: True once :func:`install` wrapped the engine's layers
        self.layers = False

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield None
            return
        sc = self.sc
        prev = sc.getLocalProperty(GROUP)
        with self._lock:
            gid = f"perfbench-{next(self._ids)}"
            parent = self._by_gid.get(prev)
            sp = Span(name, gid, parent, time.time())
            self._by_gid[gid] = sp
            if parent is not None:
                parent.children.append(sp)
        sc.setLocalProperty(GROUP, gid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.spans.append(sp)

    # ------------------------------------------------------------ resolve
    def resolve(self) -> "JobTable":
        """Attach job ids to spans and read job times and bytes from the
        status store; waits for the listener bus first."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(30_000)
        except Exception:
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        table = JobTable(jsc.statusStore())
        table.store_gateway = self.sc._gateway
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.gid))
            for j in sp.jobs:
                table.load(j)
        return table


class JobTable:
    """Per Spark job: (start_s, end_s, shuffle_bytes, output_bytes)."""

    def __init__(self, store):
        self.store = store
        self.jobs: dict[int, tuple[float, float, int, int]] = {}
        self._stage_bytes: dict[int, tuple[int, int]] | None = None

    def _stages(self) -> dict[int, tuple[int, int]]:
        if self._stage_bytes is None:
            out = {}
            gateway = self.store_gateway
            stages = self.store.stageList(
                None, False, False, gateway.new_array(gateway.jvm.double, 0), None)
            for i in range(stages.size()):
                sd = stages.apply(i)
                shuffle = int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes())
                prev = out.get(sd.stageId(), (0, 0))
                out[sd.stageId()] = (
                    prev[0] + shuffle, prev[1] + int(sd.outputBytes())
                )
            self._stage_bytes = out
        return self._stage_bytes

    def load(self, job_id: int) -> None:
        if job_id in self.jobs:
            return
        jd = self.store.job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
        end = done.get().getTime() / 1000 if done.isDefined() else start
        stages = self._stages()
        ids = jd.stageIds()
        shuffle = output = 0
        for i in range(ids.size()):
            s, o = stages.get(ids.apply(i), (0, 0))
            shuffle += s
            output += o
        self.jobs[job_id] = (start, end, shuffle, output)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtree_jobs(sp: Span) -> list[int]:
    out = list(sp.jobs)
    for c in sp.children:
        out.extend(subtree_jobs(c))
    return out


def layer_table(spans: list[Span], jobs: JobTable) -> dict[str, dict[str, float]]:
    """Per span name: wall_s, self_s (wall not covered by child spans),
    driver_s (wall not covered by the span's own Spark jobs), jobs,
    shuffle_bytes, output_bytes and the span count."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sp in spans:
        wall = sp.end - sp.start
        covered = _union(
            [(c.start, c.end) for c in sp.children], sp.start, sp.end
        )
        own = [jobs.jobs[j] for j in sp.jobs if j in jobs.jobs]
        busy = _union([(s, e) for s, e, _, _ in own], sp.start, sp.end)
        row = out[sp.name]
        row["count"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - covered
        row["driver_s"] += wall - busy
        row["jobs"] += len(sp.jobs)
        row["shuffle_bytes"] += sum(x[2] for x in own)
        row["output_bytes"] += sum(x[3] for x in own)
    return out


# ------------------------------------------------------------- wrappers
def _wrap(tracer: Tracer, owner, attr: str, name: str) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, wrapped)


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points of each layer in spans.

    Module attributes are replaced, so callers that import the function
    at call time (the loader and the trend store do) see the wrapper."""
    from minerva_etl_spark import fsutil
    from minerva_etl_spark.catalog import directory
    from minerva_etl_spark.materialize.fingerprint import MaterializationEngine
    from minerva_etl_spark.sources.loader import Loader
    from minerva_etl_spark.store.attribute_store import AttributeStore
    from minerva_etl_spark.store.notification import NotificationStore
    from minerva_etl_spark.store.trendstore import TrendStore
    from minerva_etl_spark.trigger.trigger import Trigger

    _wrap(tracer, Loader, "load_files", "sources.load_files")
    _wrap(tracer, directory, "register_entities", "catalog.register_entities")
    _wrap(tracer, TrendStore, "store_batch", "store.store_batch")
    _wrap(tracer, TrendStore, "store", "store.store")
    for fn in ("append_small_parquet", "write_small_parquet", "read_small_parquet_rows"):
        _wrap(tracer, fsutil, fn, "fsutil.small_table")
    _wrap(tracer, fsutil.StoreLease, "__enter__", "fsutil.lease")
    _wrap(tracer, MaterializationEngine, "stale_chunks", "materialize.stale_chunks")
    _wrap(tracer, Trigger, "evaluate", "trigger.evaluate")
    _wrap(tracer, NotificationStore, "store", "store.notification_store")
    _wrap(tracer, AttributeStore, "store_batch", "store.attribute_store_batch")
    _wrap(tracer, AttributeStore, "materialize_curr", "store.attribute_materialize_curr")

    run = MaterializationEngine.run

    @functools.wraps(run)
    def traced_run(self, modified_log, now, sink, max_num=None):
        grans = {m.name: m.target_gran.name for m in self.materializations.values()}

        def traced_sink(name, df, timestamps):
            with tracer.span(f"materialize.sink.{_rung(name, grans)}"):
                return sink(name, df, timestamps)

        with tracer.span("materialize.run"):
            return run(self, modified_log, now, traced_sink, max_num=max_num)

    MaterializationEngine.run = traced_run
    tracer.layers = True


def _rung(name: str, grans: dict[str, str]) -> str:
    """Rung label of a materialization: its target granularity, with the
    15m KPI and the entity aggregation told apart."""
    gran = grans.get(name, "other")
    if gran != "15m":
        return gran
    return "entity" if "v_site" in name else "kpi"
