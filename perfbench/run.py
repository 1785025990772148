"""Minerva delivery-path benchmark.

    python3 perfbench/run.py --workload feed --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  Builds an engine instance, runs the
workload's fixed list of seeded operations (``--seconds`` is about how
long they take, and caps them at ``CAP`` times that), checks the stored
outputs against DuckDB, and prints one JSON object as the last line of stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Progress and Spark logs go to stderr.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

#: set-ups per run; setup_s is their median (plus the history preload)
SETUPS = 3

#: safety cap: the loop starts no new operation once it has run this
#: many times ``--seconds``, so a much slower commit still ends in time
CAP = 3

#: JVM heap limit, -Xmx (driver and executors share it at local[N])
HEAP = "1536m"

LAYERS = (
    "sources.load_files", "catalog.register_entities", "store.store_batch",
    "store.store", "fsutil.lease", "fsutil.small_table", "materialize.run",
    "materialize.stale_chunks", "materialize.sink", "trigger.evaluate",
    "store.notification_store", "store.read", "store.attribute_store_batch",
    "store.attribute_materialize_curr",
)
#: layers reported both summed and per sub-span (rung, read kind)
SPLIT = {"materialize.sink": ("kpi", "entity", "1h", "1d", "1w", "1month"),
         "store.read": ("wide", "site", "notif")}
LAYER_FIELDS = (("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"),
                ("jobs", "count"), ("shuffle_bytes", "bytes"))


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - T0:6.1f}s {msg}", file=sys.stderr, flush=True)


def start_spark(work: str):
    from minerva_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=local, TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
    )
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the driver holds on
    to, whatever the collector's timing (VmHWM follows heap growth).
    Python's collector runs first, so JVM objects that only dead Python
    proxies still pin are released."""
    gc.collect()
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(2):  # the second pass frees what finalizers released
        bean.gc()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import minerva_etl_spark  # noqa: F401  (fails fast outside a checkout)

    import check
    import spans
    from workloads import READS, WORKLOADS, Bench, percentile_tail

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(work)
    try:
        tracer = spans.Tracer(spark)
        if args.trace:
            spans.install(tracer)
        bench = Bench(spark, work, args.workload, args.seed, tracer)
        preload_op, loop_ops, probe_ops = bench.plan()
        log("session started, inputs generated")

        setup = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            bench.build(i)
            setup.append(time.perf_counter() - t0)
        preload = 0.0
        if preload_op is not None:
            t0 = time.perf_counter()
            bench.deliver(preload_op, measured=False)
            bench.ctx.materialize_attributes()
            preload = time.perf_counter() - t0
        log(f"setup {setup} preload {preload:.2f}s")

        def run_ops(ops, cap: float) -> str | None:
            """Run ``ops`` in order; returns the first failure, if any."""
            for i, op in enumerate(ops):
                if time.perf_counter() >= cap:
                    log(f"safety cap reached, {len(ops) - i} operations not run")
                    return None
                try:
                    bench.run_op(op)
                except Exception as exc:  # counted, and the run stops
                    bench.attempted += 1
                    bench.failed += 1
                    log(f"operation failed: {exc!r}")
                    return repr(exc)
            return None

        # the loop is a fixed list of operations; --seconds is about its
        # length on a 4-CPU host and only caps it, at CAP times that
        tracer.recording = True
        t_loop = time.perf_counter()
        error = run_ops(loop_ops, t_loop + CAP * args.seconds)
        loop_wall = time.perf_counter() - t_loop
        tracer.recording = False
        log(f"loop {loop_wall:.2f}s, {len(bench.samples['ingest'])} deliveries")

        # feed has no reads or attribute deliveries in its loop: a probe
        # after it gives those metrics
        if error is None:
            error = run_ops(probe_ops, time.perf_counter() + CAP * args.seconds)
            log("probe done")

        mismatches = {}
        if error is None:
            mismatches = {k: v for k, v in check.check(
                bench.ctx, bench.deliveries, bench.now).items() if v is not None}
            bench.attempted += 1
            bench.failed += 1 if mismatches else 0
            for k, v in mismatches.items():
                log(f"MISMATCH {k}: {v}")

        log("check done")
        jobs = tracer.resolve()
        per_delivery_jobs = [len(spans.subtree_jobs(sp)) for sp in bench.delivery_spans]
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        s = bench.samples
        ingest_tail, tail_pct = percentile_tail(s["ingest"])
        fresh_tail, _ = percentile_tail(s["fresh"])
        read_tail, _ = percentile_tail(s["read_round"])
        e2e = {
            "setup_s": (median(setup) + preload, "s"),
            "ingest_s_p50": (median(s["ingest"]), "s"),
            "ingest_s_tail": (ingest_tail, "s"),
            "fresh_s_p50": (median(s["fresh"]), "s"),
            "fresh_s_tail": (fresh_tail, "s"),
            "rows_per_s": (bench.loop_rows / loop_wall, "1/s"),
            **{f"read_{k}_s_p50": (median(s[f"read_{k}"]), "s") for k in READS},
            "read_s_tail": (read_tail, "s"),
            "attr_s_p50": (median(s["attr"]), "s"),
            "jobs_per_delivery": (median(per_delivery_jobs), "count"),
            "stored_bytes_per_input_byte": (
                du(bench.ctx.data_dir) / max(1, bench.total_bytes), "ratio"),
            "peak_rss_mb": (hwm_mb(os.getpid()) + hwm_mb(jvm_pid), "MB"),
            "heap_live_mb": (live_heap_mb(spark), "MB"),
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "deliveries": len(s["ingest"]), "tail_percentile": tail_pct,
            "loop_wall_s": loop_wall, "samples": s, "setup_samples": setup,
            "preload_s": preload, "jobs_per_delivery": per_delivery_jobs,
            "mismatches": mismatches, "error": error,
        }
        if args.trace:
            metrics = layer_metrics(bench, tracer, jobs, loop_wall, e2e)
            detail["polls"] = bench.polls
            detail["spans"] = [
                {"name": sp.name, "gid": sp.gid,
                 "parent": sp.parent.gid if sp.parent else None,
                 "start": sp.start, "end": sp.end, "jobs": sp.jobs}
                for sp in tracer.spans
            ]
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(detail, fh, default=str)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("session stopped")
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def layer_metrics(bench, tracer, jobs, loop_wall: float, e2e: dict) -> dict:
    """Per-layer metrics of the traced run's measured loop."""
    import spans

    table = spans.layer_table(tracer.spans, jobs)
    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        subs = [table.get(f"{layer}.{sub}", {}) for sub in SPLIT.get(layer, ())]
        for field, unit in LAYER_FIELDS:
            value = sum(r.get(field, 0.0) for r in subs) if subs else table.get(
                layer, {}).get(field, 0.0)
            out[f"{layer}.{field}"] = (float(value), unit)
    for layer, subs in SPLIT.items():
        for sub in subs:
            out[f"{layer}.{sub}.wall_s"] = (
                float(table.get(f"{layer}.{sub}", {}).get("wall_s", 0.0)), "s")
    delivered = max(1, bench.loop_bytes)
    # whole subtrees of the store spans (which never nest): concurrent
    # part writers can file a store's jobs under a lease span inside it
    written = sum(
        jobs.jobs[j][3] for sp in tracer.spans if sp.name in ("store.store_batch", "store.store")
        for j in spans.subtree_jobs(sp) if j in jobs.jobs)
    out["store.write_amplification"] = (written / delivered, "ratio")
    out["store.output_bytes_per_input_byte"] = (
        sum(j[3] for j in jobs.jobs.values()) / delivered, "ratio")
    out["fsutil.lease.count"] = (float(table.get("fsutil.lease", {}).get("count", 0)), "count")
    out["fsutil.small_table.count"] = (
        float(table.get("fsutil.small_table", {}).get("count", 0)), "count")
    polls = bench.polls
    out["materialize.polls"] = (float(len(polls)), "count")
    out["materialize.empty_poll_s"] = (sum(p["seconds"] for p in polls if not p["work"]), "s")
    last = polls[-1] if polls else {}
    for key in ("log_files", "log_rows", "state_rows"):
        out[f"materialize.{key}"] = (float(last.get(key, 0)), "count")
    out["materialize.buckets_recomputed"] = (float(bench.recomputed), "count")
    out["materialize.useful_ratio"] = (bench.useful / max(1, bench.recomputed), "ratio")
    bench_self = sum(r["self_s"] for n, r in table.items() if n.startswith("bench."))
    out["bench.self_s"] = (bench_self, "s")
    # the loop's spans: everything opened while recording (the probe and
    # the check run after recording stopped)
    self_sum = sum(r["self_s"] for r in table.values())
    out["trace.self_sum_over_loop"] = (self_sum / loop_wall, "ratio")
    out["trace.loop_wall_s"] = (loop_wall, "s")
    for key in (k for k in e2e if k.endswith("_p50")):
        out[f"trace.{key}"] = e2e[key]
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
