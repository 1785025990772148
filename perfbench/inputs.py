"""Seeded inputs of the delivery-path benchmark: the instance YAML and the
harvest CSVs.

Everything here is plain Python + numpy; the package's own sample-data
generator is deliberately not used, so the inputs do not depend on the
code under test.  The same seed always gives the same files.
"""

from __future__ import annotations

import csv
import os
from datetime import datetime, timedelta

import numpy as np
import yaml

STEP = timedelta(minutes=15)
METRICS = ("outside_temp", "inside_temp", "power_kwh", "freq_power")
#: power above this many MWh per 15 min fires HighPowerUsage (about 1 in 5)
THRESHOLD_MWH = 80.0
NOTIFICATION = "Power usage above threshold"
TRIGGER = "HighPowerUsage"


def site_names(n: int) -> list[str]:
    """Lower-case letter names, as the relation regex ``([a-z]+)-.*``
    expects: aa, ab, ..., ba, ..."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    return [letters[i // 26 % 26] + letters[i % 26] for i in range(n)]


def node_names(n_sites: int, per_site: int) -> list[str]:
    return [f"{s}-{i:04d}" for s in site_names(n_sites) for i in range(per_site)]


# ---------------------------------------------------------------- instance
RAW_STORE = {
    "title": "raw node data",
    "data_source": "hub",
    "entity_type": "node",
    "granularity": "15m",
    "partition_size": "1d",
    "retention_period": "1month",
    "parts": [
        {
            "name": "node_main_15m",
            "trends": [
                {"name": "outside_temp", "data_type": "numeric",
                 "time_aggregation": "avg", "entity_aggregation": "avg"},
                {"name": "inside_temp", "data_type": "numeric",
                 "time_aggregation": "avg", "entity_aggregation": "avg"},
                {"name": "power_kwh", "data_type": "numeric"},
            ],
        },
        {
            "name": "node_aux_15m",
            "trends": [{"name": "freq_power", "data_type": "numeric"}],
        },
    ],
}

_FILES = {
    "trend/hub_kpi_node_15m.yaml": {
        "data_source": "hub-kpi",
        "entity_type": "node",
        "granularity": "15m",
        "partition_size": "1d",
        "parts": [
            {
                "name": "hub-kpi_node_15m",
                "trends": [{"name": "power_mwh", "data_type": "double precision"}],
            }
        ],
    },
    "materialization/hub-kpi_node_15m.yaml": {
        "target_trend_store_part": "hub-kpi_node_15m",
        "enabled": True,
        "processing_delay": "30m",
        "stability_delay": "5m",
        "reprocessing_period": "260w",
        "sources": [{"trend_store_part": "node_main_15m"}],
        "view": (
            "SELECT entity_id, timestamp, "
            "(power_kwh * 1000)::double precision AS power_mwh\n"
            'FROM trend."node_main_15m"\n'
        ),
    },
    "virtual-entity/v-site.yaml": {
        "name": "v-site",
        "query": (
            "SELECT DISTINCT substring(name from '([a-z]+)-.*') AS name\n"
            'FROM entity."node"\n'
        ),
    },
    "relation/node-v-site.yaml": {
        "name": "node->v-site",
        "query": (
            "SELECT n.id AS source_id, v.id AS target_id\n"
            'FROM entity."node" n JOIN entity."v-site" v\n'
            "  ON substring(n.name from '([a-z]+)-.*') = v.name\n"
        ),
    },
    "trigger/node-15m-highpowerusage.yaml": {
        "name": TRIGGER,
        "granularity": "15m",
        "kpi_sources": ["hub-kpi_node_15m"],
        "kpi_query": (
            'SELECT entity_id, timestamp, power_mwh FROM trend."hub-kpi_node_15m"\n'
        ),
        "thresholds": [{"name": "max_power", "value": THRESHOLD_MWH}],
        "condition": "power_mwh > max_power",
        "weight": 100,
        "notification": f"'{NOTIFICATION}'",
    },
    "notification/trigger-notification.yaml": {
        "data_source": "trigger-notification",
        "attributes": [
            {"name": "rule", "data_type": "text"},
            {"name": "weight", "data_type": "integer"},
            {"name": "details", "data_type": "text"},
            {"name": "data", "data_type": "json"},
        ],
    },
    "attribute/hub_node.yaml": {
        "data_source": "hub",
        "entity_type": "node",
        "attributes": [
            {"name": "equipment_type", "data_type": "text"},
            {"name": "site", "data_type": "text"},
        ],
    },
    "attribute/hub-class_node.yaml": {
        "data_source": "hub-class",
        "entity_type": "node",
        "attributes": [{"name": "power_class"}],
    },
    "attribute/materialization/hub-class_node.yaml": {
        "attribute_store": {"data_source": "hub-class", "entity_type": "node"},
        "query": (
            "SELECT entity_id, timestamp,\n"
            "       CASE WHEN power_kwh >= 0.05 THEN 'high' ELSE 'low' END"
            " AS power_class\n"
            'FROM trend."node_main_15m"\n'
        ),
    },
    "aggregation/aggregation_hints.yaml": {"node->v-site": "VIEW_MATERIALIZATION"},
}


def write_instance_files(root: str) -> None:
    """The hand-written part of the instance (the tiny_instance shape with
    a two-part raw store); the generated ladder and entity aggregation are
    written by the engine's own generators at set-up."""
    for rel, doc in {"trend/hub_node_15m.yaml": RAW_STORE, **_FILES}.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            yaml.safe_dump(doc, fh, sort_keys=False)


# ------------------------------------------------------------------ values
class Feed:
    """Current value of every (node, interval), so re-deliveries can be
    byte-identical or changed on purpose.  Values are integers scaled by
    100 (1000 for power), so every CSV cell is an exact decimal."""

    def __init__(self, seed: int, nodes: list[str], start: datetime, n_steps: int):
        self.rng = np.random.default_rng(seed)
        self.nodes = nodes
        self.start = start  # end label of interval 0
        self.n_steps = n_steps
        self.values = np.zeros((len(nodes), n_steps, len(METRICS)), dtype=np.int64)
        self._draw(np.ones((len(nodes), n_steps), dtype=bool))

    def _draw(self, mask: np.ndarray) -> None:
        n = int(mask.sum())
        lows = np.array([-1000, 1500, 0, 4990 * 10])
        highs = np.array([3000, 2500, 100, 5010 * 10])
        drawn = self.rng.integers(lows, highs, size=(n, len(METRICS)))
        self.values[mask] = drawn

    def ts(self, step: int) -> datetime:
        return self.start + STEP * step

    def change(self, node_idx: np.ndarray, step: int) -> None:
        mask = np.zeros(self.values.shape[:2], dtype=bool)
        mask[node_idx, step] = True
        self._draw(mask)

    def rows(self, node_idx, steps):
        for s in steps:
            stamp = self.ts(s).strftime("%Y-%m-%d %H:%M:%S")
            for i in node_idx:
                o, n, p, f = self.values[i, s]
                yield (
                    self.nodes[i], stamp,
                    f"{o / 100:.2f}", f"{n / 100:.2f}",
                    f"{p / 1000:.3f}", f"{f / 1000:.3f}",
                )


def write_delivery(
    directory: str, feed: Feed, node_idx, steps, n_files: int
) -> tuple[int, int]:
    """One delivery directory of ``n_files`` CSVs, nodes split across the
    files.  Returns (rows, bytes)."""
    os.makedirs(directory)
    rows = 0
    for k, chunk in enumerate(np.array_split(np.asarray(node_idx), n_files)):
        path = os.path.join(directory, f"part-{k:02d}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(("node", "timestamp") + METRICS)
            for r in feed.rows(chunk, steps):
                w.writerow(r)
                rows += 1
    size = sum(
        os.path.getsize(os.path.join(directory, f)) for f in os.listdir(directory)
    )
    return rows, size


def write_attributes(path: str, rng, nodes: list[str], ts: datetime) -> int:
    """One attribute delivery (equipment type + site per node) as CSV."""
    kinds = np.array(["meter", "inverter", "battery", "pump"])
    pick = rng.integers(0, len(kinds), size=len(nodes))
    stamp = ts.strftime("%Y-%m-%d %H:%M:%S")
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(("node", "timestamp", "equipment_type", "site"))
        for name, k in zip(nodes, pick):
            w.writerow((name, stamp, kinds[k], name.split("-")[0]))
    return os.path.getsize(path)
