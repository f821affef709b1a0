"""The driver produce path: a list batch is routed, assigned offsets and
written on the driver with pyarrow. It must give what ``route()`` +
``assign_offsets()`` give on Spark for the same batch, start no Spark
job, and reject what ``createDataFrame`` rejects before writing a file."""

from __future__ import annotations

import datetime as dt
import glob
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flyq_spark import storage
from flyq_spark.config import EngineConfig
from flyq_spark.engine import FlyQEngine
from flyq_spark.operators.offsets import assign_offsets
from flyq_spark.operators.routing import ROUTING_METHODS, _spark_cast_binary_to_long, route
from flyq_spark.schemas import MESSAGE_SCHEMA

_SPARK_ROWS_SCHEMA = T.StructType(
    list(MESSAGE_SCHEMA.fields)
    + [
        T.StructField("seq", T.LongType(), False),
        T.StructField("_rr", T.LongType(), True),
    ]
)


def _spark_reference(spark, msgs, n, method, rr_cursor, prev_leo):
    """The batch as a DataFrame (arrival-order ``seq`` unless the caller
    gave one, keyless rank ``_rr``), routed and assigned on Spark."""
    rows, rr = [], 0
    for i, m in enumerate(msgs):
        ts = m["timestamp"]
        if isinstance(ts, int):
            ts = dt.datetime.fromtimestamp(ts / 1000.0, tz=dt.timezone.utc)
        keyless = m.get("key") is None or len(m["key"]) == 0
        rows.append(
            Row(
                key=m.get("key"),
                value=m["value"],
                timestamp=ts,
                headers=m.get("headers"),
                seq=m.get("seq", i),
                _rr=rr if keyless else None,
            )
        )
        rr += keyless
    df = spark.createDataFrame(rows, _SPARK_ROWS_SCHEMA)
    assigned = assign_offsets(route(df, n, method=method, rr_cursor=rr_cursor), prev_leo)
    got = assigned.orderBy("seq").collect()
    return got, (rr_cursor + rr) % n


_NUMERIC_KEYS = st.one_of(
    st.integers(-(10**12), 10**12).map(lambda i: str(i).encode()),
    st.sampled_from([b" 7\t", b"+3", b"\x0042\x7f", b"-0", b"9223372036854775807"]),
)
_TIMESTAMPS = st.one_of(
    st.integers(0, 2_000_000_000_000),
    st.datetimes(dt.datetime(2000, 1, 1), dt.datetime(2030, 1, 1)),
    st.datetimes(
        dt.datetime(2000, 1, 1),
        dt.datetime(2030, 1, 1),
        timezones=st.sampled_from(
            [dt.timezone.utc, dt.timezone(dt.timedelta(hours=5, minutes=30)),
             dt.timezone(dt.timedelta(hours=-8))]
        ),
    ),
)
_HEADERS = st.one_of(
    st.none(),
    st.lists(st.tuples(st.text(max_size=4), st.binary(max_size=4)), max_size=2),
)


@st.composite
def _batches(draw):
    method = draw(st.sampled_from(ROUTING_METHODS))
    n = draw(st.integers(1, 4))
    keyed = _NUMERIC_KEYS if method == "mod" else st.one_of(
        _NUMERIC_KEYS, st.binary(min_size=1, max_size=6)
    )
    key = st.one_of(st.none(), st.just(b""), keyed)
    m = draw(st.integers(0, 10))
    msgs = [
        {
            "key": draw(key),
            "value": draw(st.binary(max_size=8)),
            "timestamp": draw(_TIMESTAMPS),
            "headers": draw(_HEADERS),
        }
        for _ in range(m)
    ]
    if draw(st.booleans()):  # caller seq: distinct, sparse, not arrival order
        for msg, s in zip(msgs, draw(st.permutations(range(m)))):
            msg["seq"] = 3 * s + 1
    prev_leo = {p: draw(st.integers(0, 5)) for p in range(n) if draw(st.booleans())}
    return method, n, draw(st.integers(0, n - 1)), prev_leo, draw(st.integers(1, 3)), msgs


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=_batches())
def test_driver_path_matches_spark_route_and_assign(spark, tmp_path, case):
    method, n, rr_cursor, prev_leo, max_records, msgs = case
    expected, expected_cursor = _spark_reference(spark, msgs, n, method, rr_cursor, prev_leo)

    base = tempfile.mkdtemp(dir=tmp_path)
    eng = FlyQEngine(spark, base, EngineConfig(max_records_per_file=max_records))
    eng.create_topic("t", partitions=n)
    meta = storage.load_topic_meta(base, "t")
    meta["log_end_offsets"] = {str(p): leo for p, leo in prev_leo.items()}
    meta["rr_cursor"] = rr_cursor
    storage.save_topic_meta(base, "t", meta)

    acks = eng.produce("t", msgs, method=method)

    assert acks == [(r["partition"], r["offset"]) for r in expected]
    meta = storage.load_topic_meta(base, "t")
    assert meta["rr_cursor"] == expected_cursor
    for p in range(n):
        added = sum(1 for r in expected if r["partition"] == p)
        assert eng.get_watermark("t", p)[2] == prev_leo.get(p, 0) + added
        stats = storage.partition_file_stats(base, "t", p)
        assert len(stats) == -(-added // max_records)
        assert all(s.num_rows <= max_records for s in stats)
        assert [(s.min_offset, s.max_offset) for s in stats] == [
            (lo, min(lo + max_records, prev_leo.get(p, 0) + added) - 1)
            for lo in range(prev_leo.get(p, 0), prev_leo.get(p, 0) + added, max_records)
        ]

    def rows(rs):
        return sorted(
            (r["partition"], r["offset"], r["key"], r["value"], r["timestamp"],
             None if r["headers"] is None else [tuple(h) for h in r["headers"]])
            for r in rs
        )

    assert rows(eng.log("t").collect()) == rows(expected)


def test_list_produce_starts_no_spark_job(engine, spark):
    sc = spark.sparkContext
    engine.create_topic("nojobs", partitions=3)
    sc.setJobGroup("driver-produce-no-jobs", "list produce")
    try:
        acks = engine.produce(
            "nojobs",
            [
                {"key": None, "value": b"a", "timestamp": 1_700_000_000_000},
                {"key": b"k", "value": b"b", "timestamp": 1_700_000_000_001,
                 "headers": [("h", b"v")]},
            ],
        )
        jobs = sc.statusTracker().getJobIdsForGroup("driver-produce-no-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(acks) == 2
    assert list(jobs) == []


_BAD_ROWS = [
    {"key": b"k", "value": None, "timestamp": 1},
    {"key": "k", "value": b"v", "timestamp": 1},
    {"key": b"k", "value": "v", "timestamp": 1},
    {"key": b"k", "value": b"v", "timestamp": dt.date(2020, 1, 1)},
    {"key": b"k", "value": b"v", "timestamp": 1, "headers": [("a", "b")]},
    {"key": b"k", "value": b"v", "timestamp": 1, "seq": None},
]


@pytest.mark.parametrize("bad", _BAD_ROWS)
def test_driver_path_rejects_what_create_dataframe_rejects(engine, spark, bad):
    good = {"key": None, "value": b"ok", "timestamp": 1}
    engine.create_topic("bad", partitions=2)
    row = dict(bad)
    ts = row["timestamp"]
    if isinstance(ts, int):
        row["timestamp"] = dt.datetime.fromtimestamp(ts / 1000.0, tz=dt.timezone.utc)
    with pytest.raises(Exception) as spark_err:
        spark.createDataFrame(
            [Row(key=row["key"], value=row["value"], timestamp=row["timestamp"],
                 headers=row.get("headers"), seq=row.get("seq", 1), _rr=None)],
            _SPARK_ROWS_SCHEMA,
        )
    with pytest.raises(type(spark_err.value)):
        engine.produce("bad", [good, bad])
    tdir = storage.topic_dir(engine.base_dir, "bad")
    assert glob.glob(os.path.join(tdir, "partition=*", "*")) == []
    assert storage.load_topic_meta(engine.base_dir, "bad")["log_end_offsets"] == {}


def test_mod_cast_matches_spark_and_raises_before_writing(engine, spark):
    keys = [
        b"7", b"-7", b"+7", b" \t7\x00\x7f", b"\xc2\xa07", b"1.5", b"1.", b"",
        b"-", b"+", b" ", b"abc", b"0x10", b"1e3", b"007", b"-0",
        b"9223372036854775807", b"9223372036854775808", b"-9223372036854775808",
        b"-9223372036854775809", b"\x1f12\x20", b"1 2", b"\x80" b"5",
    ]
    got = (
        spark.createDataFrame([(k,) for k in keys], "key binary")
        .select(F.expr("try_cast(cast(key as string) as bigint)").alias("v"))
        .collect()
    )
    for k, r in zip(keys, got):
        if r["v"] is None:
            with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
                _spark_cast_binary_to_long(k)
        else:
            assert _spark_cast_binary_to_long(k) == r["v"], k

    from pyspark.errors import NumberFormatException

    engine.create_topic("modbad", partitions=3)
    with pytest.raises(NumberFormatException):
        engine.produce(
            "modbad",
            [{"key": b"12", "value": b"v", "timestamp": 1},
             {"key": b"x", "value": b"v", "timestamp": 1}],
            method="mod",
        )
    tdir = storage.topic_dir(engine.base_dir, "modbad")
    assert glob.glob(os.path.join(tdir, "partition=*", "*")) == []


def test_naive_timestamps_use_the_process_local_zone(engine):
    """A naive datetime means local wall-clock time, as in PySpark's
    ``TimestampType.toInternal``; an aware one keeps its instant."""
    import time

    import pyarrow.parquet as pq

    naive = dt.datetime(2024, 3, 1, 12, 0, 0, 250)
    aware = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone(dt.timedelta(hours=2)))
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "EST+5"
    time.tzset()
    try:
        engine.create_topic("tz", partitions=1)
        engine.produce("tz", [{"value": b"a", "timestamp": naive},
                              {"value": b"b", "timestamp": aware}])
        want = [T.TimestampType().toInternal(naive), T.TimestampType().toInternal(aware)]
    finally:
        if old_tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    (path,) = [s.path for s in storage.partition_file_stats(engine.base_dir, "tz", 0)]
    got = pq.read_table(path).column("timestamp").cast("int64").to_pylist()
    utc_naive = int(naive.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6 + 250
    assert got == want
    assert got[0] == utc_naive + 5 * 3600 * 10**6


def test_dataframe_with_collect_acks_takes_the_driver_path(engine, spark):
    """A DataFrame passed with collect_acks=True is collected and written
    like the same rows passed as a list: acks in seq order, same log."""
    msgs = [
        {"key": b"k", "value": b"a", "timestamp": 1_700_000_000_000, "headers": [("h", b"1")]},
        {"key": None, "value": b"b", "timestamp": 1_700_000_000_001, "headers": None},
        {"key": b"", "value": b"c", "timestamp": 1_700_000_000_002, "headers": []},
    ]
    rows = [
        Row(key=m["key"], value=m["value"],
            timestamp=dt.datetime.fromtimestamp(m["timestamp"] / 1000.0, tz=dt.timezone.utc),
            headers=m["headers"])
        for m in msgs
    ]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    engine.create_topic("from_df", partitions=3)
    engine.create_topic("from_list", partitions=3)
    got = engine.produce("from_df", df, collect_acks=True)
    assert got == engine.produce("from_list", msgs)

    def log(topic):
        return sorted(
            (r["partition"], r["offset"], r["key"], r["value"], r["timestamp"],
             None if r["headers"] is None else [tuple(h) for h in r["headers"]])
            for r in engine.log(topic).collect()
        )

    assert log("from_df") == log("from_list")
    assert (storage.load_topic_meta(engine.base_dir, "from_df")["rr_cursor"]
            == storage.load_topic_meta(engine.base_dir, "from_list")["rr_cursor"])
