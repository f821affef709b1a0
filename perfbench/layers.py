"""The per-layer metric set and the helpers that fill it from spans.

Every traced run reports every per-layer metric below, whatever the
workload; a layer the workload leaves idle reports zero calls and a zero
share. Per-call times are shares of the timed window (unit ``ratio``), so
an idle layer never reads as a measured time. The milliseconds per method
and per gate are printed in the run's detail line instead.
"""

from __future__ import annotations

import os
import statistics
import time

# Public FlyQEngine methods the workloads call (union over workloads).
ENGINE_METHODS = (
    "produce",
    "consume",
    "consume_with_group",
    "commit_offset",
    "get_watermark",
    "get_consumer_lag",
    "get_partition_health",
    "stream_from_offset",
    "offsets_for_times",
    "apply_retention",
    "compact_partition",
)

# The gates log_bulk runs over its events table: the engine-surface
# monitoring operators (kept here so this module needs no Spark import).
GATES = ("watermarks", "consumer_lag")


def metric_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, in report order."""
    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "wire.requests": "count",
        "wire.bytes_out": "bytes",
        "wire.bytes_in": "bytes",
        "server.wait_share": "ratio",
        "engine.calls": "count",
        "engine.busy_share": "ratio",
        "engine.spark_jobs": "count",
        "engine.spark_tasks": "count",
    }
    for m in ENGINE_METHODS:
        units[f"engine.{m}.calls"] = "count"
        units[f"engine.{m}.share"] = "ratio"
    units.update(
        {
            "storage.files": "count",
            "storage.files_per_partition_max": "count",
            "storage.bytes": "bytes",
            "storage.footer_files_per_s": "1/s",
            "streaming.batches": "count",
            "streaming.rows": "count",
            "streaming.latest_offset_share": "ratio",
            "gates.calls": "count",
            "gates.spark_jobs": "count",
            "gates.spark_tasks": "count",
            "gates.shuffle_bytes": "bytes",
            "gates.executor_share": "ratio",
        }
    )
    for g in GATES:
        units[f"gate.{g}.spark_jobs"] = "count"
        units[f"gate.{g}.share"] = "ratio"
    return units


def empty_layers() -> dict[str, list]:
    return {name: [0, unit] for name, unit in metric_units().items()}


def engine_layer(layers: dict, detail: dict, spans, window_s: float) -> None:
    """Fill the engine metrics from ``engine.<method>`` spans: calls, share
    of the window (self time), Spark jobs and tasks; per-method self-time
    p50 and per-call job/task counts go to ``detail``."""
    by_method: dict[str, list] = {}
    for sp in spans:
        if sp.layer == "engine":
            by_method.setdefault(sp.name.split(".", 1)[1], []).append(sp)
    busy = jobs = tasks = 0
    for m, sps in by_method.items():
        self_ms = [sp.ms for sp in sps]
        j = sum(sp.attrs.get("spark_jobs", 0) for sp in sps)
        t = sum(sp.attrs.get("spark_tasks", 0) for sp in sps)
        busy += sum(self_ms)
        jobs += j
        tasks += t
        if f"engine.{m}.calls" in layers:
            layers[f"engine.{m}.calls"][0] = len(sps)
            layers[f"engine.{m}.share"][0] = sum(self_ms) / 1e3 / window_s
        detail[f"engine.{m}.calls"] = [len(sps), "count"]
        detail[f"engine.{m}.self_ms_p50"] = [statistics.median(self_ms), "ms"]
        detail[f"engine.{m}.spark_jobs"] = [j / len(sps), "jobs/call"]
        detail[f"engine.{m}.spark_tasks"] = [t / len(sps), "tasks/call"]
    layers["engine.calls"][0] = sum(len(s) for s in by_method.values())
    layers["engine.busy_share"][0] = busy / 1e3 / window_s
    layers["engine.spark_jobs"][0] = jobs
    layers["engine.spark_tasks"][0] = tasks


def storage_layer(layers: dict, detail: dict, base_dir: str, topic: str, partitions: int) -> None:
    """Files and bytes on disk for one topic, plus a timed direct call to
    the footer scan every health/retention/compaction call performs."""
    from flyq_spark import storage

    counts = []
    total_bytes = 0
    t0 = time.perf_counter()
    for p in range(partitions):
        stats = storage.partition_file_stats(base_dir, topic, p)
        counts.append(len(stats))
        total_bytes += sum(s.size_bytes for s in stats)
    footer_s = time.perf_counter() - t0
    files = sum(counts)
    layers["storage.files"][0] = files
    layers["storage.files_per_partition_max"][0] = max(counts) if counts else 0
    layers["storage.bytes"][0] = total_bytes
    layers["storage.footer_files_per_s"][0] = files / footer_s if footer_s > 0 else 0
    detail["storage.footer_read_ms"] = [footer_s * 1e3, "ms"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
