"""The benchmark's workloads, driving the engine through its public API.

Each workload is a closed loop with one client (this process): the next
operation starts when the previous one has finished.  Time inside the
engine is injected: a delivery for the interval ending ``T`` lands at
``T + 30m`` (the generated ladder's processing delay) with ``created`` at
that instant, and its polls run at ``T + 35m`` (past the 5 min stability
delay).  Data lives in the year 2100, so marks the engine stamps with
the wall clock never look newer than the injected ``now``.
"""

from __future__ import annotations

import itertools
import os
import time
from datetime import datetime, timedelta

import numpy as np

import inputs
from inputs import STEP, TRIGGER

#: end label of interval 0 is BASE + 15m; 2100-02-28 is a Sunday and the
#: last day of its month, so its day bucket closes a 1d, 1w and 1month
#: bucket at once
BASE = datetime(2100, 2, 28)
LAND_DELAY = timedelta(minutes=30)
POLL_DELAY = timedelta(minutes=5)
MAX_NUM = 50
MAX_POLLS = 60

SITES, PER_SITE = 10, 20

#: feed: one 15-min interval for every node per delivery, three files
#: each; the first delivery is interval 93 (ends 23:30), so the third
#: (00:00) closes the hour, the day, the week and the month at once and
#: every rung runs
FEED_FIRST, FEED_DELIVERIES, FEED_FILES = 93, 3, 3
#: late_and_read: intervals of history, loaded in four files at set-up
HISTORY, HISTORY_FILES = 4, 4

#: the operations of each workload's measured loop, in order, and of the
#: probe run after it (outside the loop's wall time); every run does
#: exactly these, so every commit measures the same work.  ``read`` is a
#: round of the three read kinds, ``attr`` an attribute delivery.
LOOPS = {
    "feed": ("feed",) * FEED_DELIVERIES,
    "late_and_read": ("late", "read", "attr", "read", "late", "read", "attr"),
}
PROBES = {
    "feed": ("read", "read", "attr"),
    "late_and_read": (),
}
WORKLOADS = tuple(LOOPS)
READS = ("wide", "site", "notif")


def percentile_tail(xs: list[float]) -> tuple[float, str]:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it;
    the maximum when there are too few samples for any."""
    ys = sorted(xs)
    n = len(ys)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            k = min(n - 1, int(np.ceil(n * p / 100)) - 1)
            return ys[k], f"p{p}"
    return ys[-1], "max"


class Bench:
    """One engine instance plus the workload state on top of it."""

    def __init__(self, spark, work: str, name: str, seed: int, tracer):
        self.spark, self.work, self.name, self.tracer = spark, work, name, tracer
        self.nodes = inputs.node_names(SITES, PER_SITE)
        self.rng = np.random.default_rng(seed + 7919)
        self.feed = inputs.Feed(seed, self.nodes, BASE + STEP, 96 * 3)
        self.deliveries: list[dict] = []  # every landed delivery, for the check
        #: read_<kind>: one query each; read_round: the three kinds back to back
        self.samples = {"ingest": [], "fresh": [], "attr": [], "read_round": [],
                        **{f"read_{k}": [] for k in READS}}
        self.delivery_spans: list = []
        self.loop_rows = self.loop_bytes = 0
        self.total_bytes = 0
        self.attempted = self.failed = 0
        self.now = BASE
        #: outside-in counters, filled in the traced run
        self.polls: list[dict] = []
        self.recomputed = self.useful = 0
        self._pending: set = set()
        self._seq = 0

    # ---------------------------------------------------------- set-up
    def build(self, index: int):
        """Instance files, initialize, entities and relations in a fresh
        data directory; returns the engine context."""
        from minerva_etl_spark.catalog.aggregation_compile import (
            generate_entity_aggregation,
            generate_time_aggregations,
        )
        from minerva_etl_spark.catalog.directory import register_entities
        from minerva_etl_spark.catalog.initialize import initialize
        from minerva_etl_spark.catalog.instance import MinervaInstance, TrendStoreDef
        from minerva_etl_spark.sources.csv_harvest import CsvParserConfig
        from minerva_etl_spark.sources.loader import JobLog, Loader
        import yaml

        root = os.path.join(self.work, f"setup{index}")
        inst_dir, data = os.path.join(root, "instance"), os.path.join(root, "data")
        inputs.write_instance_files(inst_dir)
        raw = TrendStoreDef.from_dict(inputs.RAW_STORE)
        # one store file per generated part: write_generated merges a
        # rung's parts into one store whose parts all carry ``samples``,
        # and a sibling part's sink then overwrites this part's trends
        # with nulls (see NOTES.md)
        generated = generate_time_aggregations(raw) + generate_entity_aggregation(
            raw, "node->v-site", "v-site")
        for store_yaml, mat_yaml in generated:
            part = mat_yaml["target_trend_store_part"]
            for sub, doc in (("trend", store_yaml), ("materialization", mat_yaml)):
                with open(os.path.join(inst_dir, sub, f"{part}.yaml"), "w") as fh:
                    yaml.safe_dump(doc, fh, sort_keys=False)
        ctx = initialize(self.spark, MinervaInstance.load(inst_dir), data)
        register_entities(
            self.spark, os.path.join(data, "entity", "node"),
            self.spark.createDataFrame([(n,) for n in self.nodes], "name string"),
            "node",
        )
        ctx.materialize_virtual_entities()
        ctx.materialize_relations()
        self.ctx = ctx
        self.loader = Loader(ctx.trend_stores["hub_node_15m"], job_log=JobLog(data))
        self.csv = CsvParserConfig(
            identifier_column="node", timestamp_column="timestamp",
            column_types={m: "numeric" for m in inputs.METRICS}, entity_type="node",
        )
        return ctx

    # ---------------------------------------------------------- inputs
    def plan(self) -> tuple[dict | None, list[dict], list[dict]]:
        """Generate every operation's input files before timing starts;
        returns the history preload (or None), the loop and the probe.
        The kinds of operation are fixed per workload, so every seed asks
        the same mix of work; the seed picks intervals, nodes and values."""
        staged = os.path.join(self.work, "staged")
        all_nodes = np.arange(len(self.nodes))
        preload = None
        if self.name == "late_and_read":
            preload = self._staged_delivery(
                staged, all_nodes, range(HISTORY), HISTORY_FILES, trigger=True, changed=True)
        feed_steps = itertools.count(FEED_FIRST)
        lates = itertools.count()

        def staged_op(kind: str) -> dict:
            if kind == "feed":
                return self._staged_delivery(
                    staged, all_nodes, [next(feed_steps)], FEED_FILES, trigger=True, changed=True)
            if kind == "late":
                # every other re-delivery changes values; the rest are
                # byte-identical to what is stored
                changed = next(lates) % 2 == 0
                step = int(self.rng.integers(0, HISTORY))
                subset = np.sort(self.rng.choice(all_nodes, len(all_nodes) // 5, replace=False))
                if changed:
                    self.feed.change(subset, step)
                return self._staged_delivery(
                    staged, subset, [step], 1, trigger=False, changed=changed)
            if kind == "attr":
                return self._staged_attr(staged)
            return {"kind": "read"}

        loop = [staged_op(k) for k in LOOPS[self.name]]
        probe = [staged_op(k) for k in PROBES[self.name]]
        return preload, loop, probe

    def _staged_delivery(self, staged, node_idx, steps, n_files, trigger, changed) -> dict:
        self._seq += 1
        path = os.path.join(staged, f"d{self._seq:05d}")
        rows, size = inputs.write_delivery(path, self.feed, node_idx, list(steps), n_files)
        return {"kind": "delivery", "staged": path, "steps": list(steps), "rows": rows,
                "bytes": size, "trigger": trigger, "changed": changed, "seq": self._seq}

    def _staged_attr(self, staged) -> dict:
        self._seq += 1
        os.makedirs(staged, exist_ok=True)
        path = os.path.join(staged, f"attr{self._seq:05d}.csv")
        stamp = BASE + timedelta(minutes=self._seq)
        inputs.write_attributes(path, self.rng, self.nodes, stamp)
        return {"kind": "attr", "path": path}

    # ------------------------------------------------------- operations
    def deliver(self, op: dict, measured: bool = True) -> None:
        """Land one delivery, load it, poll until a poll finds nothing,
        then run the trigger for its buckets."""
        last_ts = self.feed.ts(max(op["steps"]))
        landed_at = max(self.now, last_ts + LAND_DELAY)
        poll_at = landed_at + POLL_DELAY
        inbox = os.path.join(self.work, "inbox", os.path.basename(op["staged"]))
        os.makedirs(os.path.dirname(inbox), exist_ok=True)
        with self.tracer.span("bench.delivery") as root:
            t0 = time.perf_counter()
            os.rename(op["staged"], inbox)  # the delivery lands
            files = sorted(os.path.join(inbox, f) for f in os.listdir(inbox))
            self.loader.load_files(
                self.spark,
                [("csv", p, self.csv, op["seq"] * 100 + i, None) for i, p in enumerate(files)],
                created=landed_at,
            )
            t_ingest = time.perf_counter()
            if op["changed"] and self.tracer.recording:
                self._mark_needed(op["steps"])
            t_work = self.drain(poll_at)
            trig_ts = [self.feed.ts(s) for s in op["steps"]] if op["trigger"] else []
            t_trig = 0.0
            if trig_ts:
                t1 = time.perf_counter()
                notes = self.ctx.triggers[TRIGGER].evaluate(self.spark, trig_ts)
                self.ctx.notification_stores["trigger-notification"].store(notes)
                t_trig = time.perf_counter() - t1
        self.now = poll_at
        self.deliveries.append({"files": files, "trigger_ts": trig_ts})
        self.total_bytes += op["bytes"]
        if measured:
            self.attempted += 1
            self.samples["ingest"].append(t_ingest - t0)
            self.samples["fresh"].append(max(t_work, t_ingest) - t0 + t_trig)
            self.loop_rows += op["rows"]
            self.loop_bytes += op["bytes"]
            self.delivery_spans.append(root)

    def drain(self, now: datetime) -> float:
        """Poll ``materialize_stale`` until a poll returns no work; returns
        when the last poll that did work ended (perf_counter).  The
        counters cover the measured loop only, not the history preload."""
        last = 0.0
        for _ in range(MAX_POLLS):
            t0 = time.perf_counter()
            done = self.ctx.materialize_stale(now, max_num=MAX_NUM)
            t1 = time.perf_counter()
            if self.tracer.recording and self.tracer.layers:
                self.polls.append(self._outside_in(t1 - t0, bool(done)))
            if not done:
                return last
            last = t1
            if self.tracer.recording:
                self.recomputed += len(done)
                self.useful += sum(1 for d in done if d in self._pending)
                self._pending.difference_update(done)
        raise RuntimeError(f"backlog not drained after {MAX_POLLS} polls")

    def _mark_needed(self, steps) -> None:
        """Buckets whose inputs really changed: each materialization's
        target bucket over every changed raw interval."""
        for name, mat in self.ctx.engine.materializations.items():
            for s in steps:
                self._pending.add((name, mat.target_gran.bucket_end(self.feed.ts(s))))

    def _outside_in(self, seconds: float, did_work: bool) -> dict:
        """Modified-log and state size, read by listing their directories."""
        import pyarrow.parquet as pq

        def rows(path):
            if not os.path.isdir(path):
                return 0, 0
            files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
            return len(files), sum(pq.ParquetFile(f).metadata.num_rows for f in files)

        log_files, log_rows = rows(os.path.join(self.ctx.data_dir, "modified_log"))
        _, state_rows = rows(self.ctx.engine.state_path)
        return {"seconds": seconds, "work": did_work, "log_files": log_files,
                "log_rows": log_rows, "state_rows": state_rows}

    def attr(self, op: dict) -> None:
        """One attribute delivery: staging upsert into history, then the
        curr pointer."""
        from pyspark.sql import functions as F

        from minerva_etl_spark.catalog.directory import names_to_entity_ids

        store = self.ctx.attribute_stores["hub_node"]
        with self.tracer.span("bench.attr"):
            t0 = time.perf_counter()
            frame = self.spark.read.option("header", True).csv(op["path"])
            frame = names_to_entity_ids(frame, "node", "node").select(
                "entity_id", F.col("timestamp").cast("timestamp_ntz").alias("timestamp"),
                "equipment_type", "site",
            )
            store.store_batch(self.spark, frame)
            store.materialize_curr(self.spark)
            self.samples["attr"].append(time.perf_counter() - t0)
        self.attempted += 1

    def read(self) -> None:
        """One read round: each read kind once, each its own sample,
        forced with a ``noop`` write (``count()`` would let Catalyst prune
        the work away)."""
        t_round = time.perf_counter()
        for kind in READS:
            with self.tracer.span(f"store.read.{kind}"):
                t0 = time.perf_counter()
                for df in self._read_frames(kind):
                    if df is not None:  # a rung no delivery has reached yet
                        df.write.format("noop").mode("overwrite").save()
                self.samples[f"read_{kind}"].append(time.perf_counter() - t0)
            self.attempted += 1
        self.samples["read_round"].append(time.perf_counter() - t_round)

    def _read_frames(self, kind: str) -> list:
        from pyspark.sql import functions as F

        from minerva_etl_spark.catalog.directory import entity_id_col

        spark, ctx = self.spark, self.ctx
        day = (F.col("timestamp") > BASE) & (F.col("timestamp") <= BASE + timedelta(days=1))
        if kind == "wide":  # the multi-part store over a day
            return [ctx.trend_stores["hub_node_15m"].read_store(spark).filter(day)]
        if kind == "notif":
            return [ctx.notification_stores["trigger-notification"].read(spark).filter(day)]
        # a third of the sites: their nodes' 1h rung and their 15m aggregate
        sites = spark.createDataFrame(
            [(s,) for s in inputs.site_names(SITES)[::3]], "name string"
        ).select(entity_id_col("v-site", "name").alias("site_id"))
        members = ctx.relations.read(spark, "node->v-site").join(
            sites, F.col("target_id") == F.col("site_id"))
        hourly = ctx.read_part("node_main_1h")
        return [
            hourly and hourly.join(members, F.col("entity_id") == F.col("source_id")),
            ctx.read_part("node__v_site_node_main_15m").join(
                sites, F.col("entity_id") == F.col("site_id")),
        ]

    def run_op(self, op: dict) -> None:
        if op["kind"] == "delivery":
            self.deliver(op)
        elif op["kind"] == "attr":
            self.attr(op)
        else:
            self.read()
