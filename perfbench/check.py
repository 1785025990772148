"""Correctness check: the engine's stored outputs against a DuckDB
recomputation from the generated input CSVs.

DuckDB reads the engine's parquet files directly and joins them to the
entity dimension, so outputs are compared by entity name, never by id.
Checked: the final raw parts (last write wins), every processed 1h and
1d bucket, the site-level entity aggregation, the KPI and the
notifications.  Numbers match within a relative 1e-6.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta

import duckdb

from inputs import METRICS, NOTIFICATION, THRESHOLD_MWH, TRIGGER

MAIN = ("outside_temp", "inside_temp", "power_kwh")
AUX = ("freq_power",)
#: time aggregation per raw trend (avg for temperatures, sum otherwise)
AGG = {"outside_temp": "avg", "inside_temp": "avg", "power_kwh": "sum", "freq_power": "sum"}


def _pq(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}', union_by_name=true)"


def _bucket(col: str, seconds: int) -> str:
    us = seconds * 1_000_000
    return f"make_timestamp(((epoch_us({col}) + {us - 1}) // {us}) * {us})"


def _lit(ts: datetime) -> str:
    return f"TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}'"


def _diff(con, actual: str, expected: str, keys, vals) -> str | None:
    """None when both relations hold the same keys once each and equal
    values; else a short description of the first difference."""
    n_a, n_keys = con.execute(
        f"SELECT count(*), count(DISTINCT ({', '.join(keys)})) FROM ({actual})"
    ).fetchone()
    (n_e,) = con.execute(f"SELECT count(*) FROM ({expected})").fetchone()
    if n_a != n_e or n_a != n_keys:
        return f"rows {n_a} (distinct keys {n_keys}) vs expected {n_e}"
    on = " AND ".join(f"a.{k} = e.{k}" for k in keys)
    bad = ["a.__a IS NULL", "e.__e IS NULL"]
    for v in vals:
        bad.append(
            f"NOT (coalesce(abs(CAST(a.{v} AS DOUBLE) - CAST(e.{v} AS DOUBLE))"
            f" <= 1e-6 * greatest(1.0, abs(CAST(e.{v} AS DOUBLE))), false)"
            f" OR (a.{v} IS NULL AND e.{v} IS NULL))"
        )
    sides = ", ".join(f"a.{v}, e.{v}" for v in vals)
    row = con.execute(
        f"SELECT {', '.join(f'coalesce(a.{k}, e.{k})' for k in keys)}, {sides} "
        f"FROM (SELECT *, 1 AS __a FROM ({actual})) a "
        f"FULL OUTER JOIN (SELECT *, 1 AS __e FROM ({expected})) e ON {on} "
        f"WHERE {' OR '.join(bad)} LIMIT 1"
    ).fetchone()
    return None if row is None else f"first difference (keys, actual/expected pairs) {row}"


def check(ctx, deliveries: list[dict], final_now: datetime) -> dict[str, str | None]:
    """Run every comparison; returns output name -> None (ok) or the
    mismatch.  ``deliveries`` are dicts with ``files`` (CSV paths in
    delivery order), ``triggered`` and ``trigger_ts`` (bucket timestamps
    the trigger ran for after that delivery)."""
    con = duckdb.connect()
    files, trig = [], []
    for d in deliveries:
        for path in d["files"]:
            files.append((path, len(files)))
        trig.extend((ts,) for ts in d.get("trigger_ts", ()))
    con.execute("CREATE TABLE files (path VARCHAR, seq INTEGER)")
    con.executemany("INSERT INTO files VALUES (?, ?)", files)
    con.execute("CREATE TABLE trig (ts TIMESTAMP)")
    if trig:
        con.executemany("INSERT INTO trig VALUES (?)", sorted(set(trig)))
    types = ", ".join(f"'{m}': 'DECIMAL(18,3)'" for m in METRICS)
    paths = ", ".join(f"'{p}'" for p, _ in files)
    con.execute(
        f"""CREATE TABLE delivered AS
        SELECT c.*, f.seq FROM read_csv([{paths}], header=true, filename=true,
            columns={{'node': 'VARCHAR', 'timestamp': 'TIMESTAMP', {types}}}) c
        JOIN files f ON c.filename = f.path"""
    )
    con.execute(
        f"""CREATE TABLE raw AS SELECT node, timestamp, {', '.join(METRICS)}
        FROM delivered
        QUALIFY row_number() OVER (PARTITION BY node, timestamp ORDER BY seq DESC) = 1"""
    )
    # the first version of each row is what the trigger saw: nothing is
    # re-delivered before the trigger ran for its bucket
    con.execute(
        """CREATE TABLE first_seen AS SELECT node, timestamp, power_kwh FROM delivered
        QUALIFY row_number() OVER (PARTITION BY node, timestamp ORDER BY seq) = 1"""
    )
    base = ctx.data_dir
    con.execute(
        f"CREATE TABLE node_dim AS SELECT id, name FROM {_pq(os.path.join(base, 'entity', 'node'))}"
    )
    con.execute(
        f"CREATE TABLE site_dim AS SELECT id, name FROM {_pq(os.path.join(base, 'entity', 'v-site'))}"
    )
    window = (
        f"timestamp <= {_lit(final_now - timedelta(minutes=30))} "
        f"AND timestamp >= {_lit(final_now - timedelta(days=3))}"
    )

    def part(name: str, cols, dim: str = "node_dim") -> str:
        path = ctx.parts_index[name].part_path(name)
        if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
            # never written: no bucket of this rung was processable yet
            return "SELECT " + ", ".join(
                ["NULL::VARCHAR AS node", "NULL::TIMESTAMP AS timestamp"]
                + [f"NULL::DOUBLE AS {c}" for c in cols]
            ) + " WHERE false"
        return (
            f"SELECT d.name AS node, p.timestamp, {', '.join('p.' + c for c in cols)} "
            f"FROM {_pq(path)} p JOIN {dim} d ON p.entity_id = d.id"
        )

    out: dict[str, str | None] = {}
    out["raw"] = _diff(
        con,
        f"SELECT m.*, a.freq_power FROM ({part('node_main_15m', MAIN)}) m "
        f"FULL OUTER JOIN ({part('node_aux_15m', AUX)}) a USING (node, timestamp)",
        "SELECT * FROM raw", ("node", "timestamp"), METRICS,
    )
    for gran, seconds in (("1h", 3600), ("1d", 86400)):
        for label, cols in (("main", MAIN), ("aux", AUX)):
            aggs = ", ".join(f"{AGG[c]}({c}) AS {c}" for c in cols)
            b = _bucket("timestamp", seconds)
            out[f"{label}_{gran}"] = _diff(
                con,
                part(f"node_{label}_{gran}", ("samples",) + cols),
                f"SELECT * FROM (SELECT node, {b} AS timestamp, count(*) AS samples, "
                f"{aggs} FROM raw GROUP BY ALL) WHERE {window}",
                ("node", "timestamp"), ("samples",) + cols,
            )
    for label, cols in (("main", MAIN), ("aux", AUX)):
        aggs = ", ".join(f"{AGG[c]}({c}) AS {c}" for c in cols)
        out[f"entity_{label}"] = _diff(
            con,
            part(f"node__v_site_node_{label}_15m", ("samples",) + cols, "site_dim"),
            f"SELECT split_part(node, '-', 1) AS node, timestamp, count(*) AS samples, "
            f"{aggs} FROM raw WHERE {window} GROUP BY ALL",
            ("node", "timestamp"), ("samples",) + cols,
        )
    out["kpi"] = _diff(
        con,
        part("hub-kpi_node_15m", ("power_mwh",)),
        f"SELECT node, timestamp, power_kwh * 1000 AS power_mwh FROM raw WHERE {window}",
        ("node", "timestamp"), ("power_mwh",),
    )
    notif = os.path.join(base, "notification", "trigger-notification")
    actual = (
        f"SELECT d.name AS node, n.timestamp, n.rule, n.weight, n.details, count(*) AS n "
        f"FROM {_pq(notif)} n JOIN node_dim d ON n.entity_id = d.id GROUP BY ALL"
        if os.path.isdir(notif)
        else "SELECT NULL::VARCHAR AS node, NULL::TIMESTAMP AS timestamp, "
        "NULL::VARCHAR AS rule, NULL::INTEGER AS weight, NULL::VARCHAR AS details, "
        "NULL::BIGINT AS n WHERE false"
    )
    out["notifications"] = _diff(
        con,
        actual,
        f"SELECT node, timestamp, '{TRIGGER}' AS rule, 100 AS weight, "
        f"'{NOTIFICATION}' AS details, count(*) AS n FROM first_seen "
        f"WHERE power_kwh * 1000 > {THRESHOLD_MWH} AND timestamp IN (SELECT ts FROM trig) "
        f"GROUP BY ALL",
        ("node", "timestamp", "rule", "weight", "details"), ("n",),
    )
    con.close()
    return out
