"""Topic directory layout, metadata persistence, and file-level stats.

Layout mirrors the reference's storage scheme (one directory per topic,
flyq-server/src/core/topic.rs:94-96; partition subdirs, partition.rs:84-105),
restated hive-style so Spark partition pruning replaces FlyQ's BTreeMap
segment lookup (flyq-server/src/core/partition.rs:148-158):

    base_dir/
      topic_<name>/
        _topic_meta.json          # partitions, per-partition log_end_offset
        partition=0/*.parquet     # "segments": parquet files, footer min/max
        partition=1/...           #   stats on `offset` = the sparse index
      _meta/consumer_offsets.parquet

Metadata writes are atomic tmp+rename, same discipline as the reference's
PartitionMeta::save (flyq-server/src/core/partiton_meta.rs:27-40); so are
the data files the engine writes on the driver (``write_partition_files``).
"""

from __future__ import annotations

import functools
import json
import os
import re
import uuid
from dataclasses import dataclass
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

TOPIC_PREFIX = "topic_"
META_DIR = "_meta"
TOPIC_META_FILE = "_topic_meta.json"
_SAFE_TOPIC = re.compile(r"[^A-Za-z0-9._-]")


def topic_dir(base_dir: str, topic: str) -> str:
    return os.path.join(base_dir, TOPIC_PREFIX + _SAFE_TOPIC.sub("_", topic))


def partition_dir(base_dir: str, topic: str, partition: int) -> str:
    return os.path.join(topic_dir(base_dir, topic), f"partition={partition}")


def atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def load_topic_meta(base_dir: str, topic: str) -> dict | None:
    path = os.path.join(topic_dir(base_dir, topic), TOPIC_META_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def save_topic_meta(base_dir: str, topic: str, meta: dict) -> None:
    atomic_write_json(os.path.join(topic_dir(base_dir, topic), TOPIC_META_FILE), meta)


def list_topics(base_dir: str) -> list[str]:
    """Catalog discovery — analog of LogEngine::load topic scan
    (flyq-server/src/core/log_engine.rs:45-57)."""
    if not os.path.isdir(base_dir):
        return []
    out = []
    for name in sorted(os.listdir(base_dir)):
        if name.startswith(TOPIC_PREFIX) and os.path.isdir(os.path.join(base_dir, name)):
            out.append(name[len(TOPIC_PREFIX):])
    return out


@functools.cache
def log_file_arrow_schema() -> pa.Schema:
    """Arrow schema of one log data file: the ``LOG_SCHEMA`` columns
    without the hive ``partition`` column, timestamps as
    ``timestamp[us, tz=UTC]`` (what Spark writes under
    ``outputTimestampType=TIMESTAMP_MICROS``)."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from flyq_spark.schemas import LOG_SCHEMA

    return to_arrow_schema(
        T.StructType([f for f in LOG_SCHEMA.fields if f.name != "partition"])
    )


def write_partition_files(
    base_dir: str, topic: str, partition: int, table: pa.Table,
    max_records_per_file: int,
) -> None:
    """Write one partition's rows as log data files, the way Spark's
    partitioned append lays them out: sorted by offset, one file per
    ``max_records_per_file`` rows, snappy. Footer statistics are kept
    only where a reader uses them: ``offset`` (seek, recovery),
    ``timestamp`` (time retention, ``offsets_for_times``) and ``key``
    (``consume_by_key``); dictionary encoding only on ``key``. Each file
    is written under a dot-prefixed name and renamed into place, so a
    reader (Spark, pyarrow datasets, ``partition_file_stats``) never
    lists a half-written file."""
    pdir = partition_dir(base_dir, topic, partition)
    os.makedirs(pdir, exist_ok=True)
    table = table.sort_by("offset")
    step = max(1, int(max_records_per_file))
    for start in range(0, table.num_rows, step):
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(pdir, f".{name}.tmp")
        pq.write_table(
            table.slice(start, step),
            tmp,
            compression="snappy",
            use_dictionary=["key"],
            write_statistics=["offset", "key", "timestamp"],
            store_schema=False,
        )
        os.replace(tmp, os.path.join(pdir, name))


@dataclass
class FileStats:
    """Per-parquet-file stats — the Spark analog of a FlyQ Segment
    (base_offset/last_offset, flyq-server/src/core/segment.rs:14-28)."""

    path: str
    size_bytes: int
    num_rows: int
    min_offset: int | None
    max_offset: int | None
    max_timestamp_ms: int | None


def _ts_to_ms(v) -> int | None:
    if v is None:
        return None
    try:  # pyarrow returns datetime for timestamp stats; naive values are
        # UTC wall-clock (the session pins spark.sql.session.timeZone=UTC),
        # so attach UTC before converting — naive .timestamp() would shift
        # by the host zone.
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return int(v.timestamp() * 1000)
    except AttributeError:
        return int(v)


def partition_file_stats(base_dir: str, topic: str, partition: int) -> list[FileStats]:
    """Read footer stats for every file of one partition, sorted by
    min_offset (oldest first) — the recovery scan analog of
    flyq-server/src/core/segment.rs:188-237, except parquet footers are
    self-describing so there is no tail re-scan."""
    pdir = partition_dir(base_dir, topic, partition)
    out: list[FileStats] = []
    if not os.path.isdir(pdir):
        return out
    for name in sorted(os.listdir(pdir)):
        # dot/underscore names are in-flight writes and Spark side files
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            continue
        path = os.path.join(pdir, name)
        f = pq.ParquetFile(path)
        md = f.metadata
        schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx_off = schema_names.index("offset") if "offset" in schema_names else None
        idx_ts = schema_names.index("timestamp") if "timestamp" in schema_names else None
        mn = mx = mxts = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            if idx_off is not None:
                st = g.column(idx_off).statistics
                if st is not None and st.has_min_max:
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
            if idx_ts is not None:
                st = g.column(idx_ts).statistics
                if st is not None and st.has_min_max:
                    ts = _ts_to_ms(st.max)
                    if ts is not None:
                        mxts = ts if mxts is None else max(mxts, ts)
        out.append(
            FileStats(
                path=path,
                size_bytes=os.path.getsize(path),
                num_rows=md.num_rows,
                min_offset=mn,
                max_offset=mx,
                max_timestamp_ms=mxts,
            )
        )
    out.sort(key=lambda s: (s.min_offset if s.min_offset is not None else 1 << 62, s.path))
    return out
