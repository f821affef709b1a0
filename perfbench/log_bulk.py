"""``log_bulk``: the FlyQEngine API on a seeded ``events`` log.

Each round writes a fresh 4-partition topic from the next slice of the
events table (key = user_id, value = props): one large produce plus
SMALL_BATCHES small ones, the seed choosing where the rows split. It then
replays every partition through ``stream_from_offset``, replays the topic
through ``spark.readStream.format("flyq")`` with the ``availableNow``
trigger, runs ``offsets_for_times`` and seeded point ``consume`` calls,
``apply_retention`` with a size cap and ``compact_partition`` on a seeded
partition, and last runs the engine-surface gates (layers.GATES) over the
same events table, so the operators layer is measured too. Rounds repeat
until the window closes; outputs are checked after it.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

from common import Checks, Ctx, Outcome, Tracer, peak_rss_mb
from gates import GateRunner
from layers import GATES, dir_bytes, empty_layers, engine_layer, storage_layer

PARTITIONS = 4
ROUND_ROWS = 20_000
TINY_ROUND_ROWS = 400
SMALL_BATCHES = 2
POINT_CONSUMES = 4
EVENTS_ROWS = 100_000  # sf 0.1: the slices rounds draw from
TINY_EVENTS_ROWS = 1_000


class Round:
    """One round's inputs (fixed by the seed and the round number) and the
    outputs of its timed calls."""

    def __init__(self, seed: int, index: int, lo: int, rows: int, ts_range: tuple[int, int]):
        rng = random.Random(f"{seed}/log_bulk/{index}")
        self.topic = f"events_r{index}"
        self.lo, self.hi = lo, lo + rows
        big = int(rows * rng.uniform(0.55, 0.75))
        cuts = sorted(rng.sample(range(lo + big + 1, self.hi), SMALL_BATCHES - 1))
        self.batches = list(zip([lo, lo + big] + cuts, [lo + big] + cuts + [self.hi]))
        self.ts_probe_ms = rng.randint(*ts_range)
        self.point_seeds = [rng.random() for _ in range(POINT_CONSUMES)]
        self.cap_frac = rng.uniform(0.35, 0.6)
        self.compact_part = rng.randrange(PARTITIONS)
        self.scan: dict[int, dict] = {}
        self.stream: list[dict] = []
        self.progress: list[dict] = []
        self.oft: dict = {}
        self.points: list = []
        self.leo: dict[int, int] = {}
        self.stored_bytes = 0
        self.times: dict[str, list[float]] = {}
        self.fault = False  # set by the self-check: the first timed call raises

    def timed(self, tracer, jobs, kind: str, fn, *args):
        if self.fault:
            raise RuntimeError(f"injected fault: {kind} raised")
        layer = "streaming" if kind == "read_stream" else "engine"
        with jobs.group(kind) as g, tracer.span(f"{layer}.{kind}", layer, request=self.topic) as sp:
            t = time.perf_counter()
            out = fn(*args)
            s = time.perf_counter() - t
        if sp is not None:
            sp.attrs.update(spark_jobs=g["jobs"], spark_tasks=g["tasks"])
        self.times.setdefault(kind, []).append(s)
        return out


def scan_stats(df):
    """Per-partition replay summary from one action: rows, distinct
    offsets, offset range and key+value bytes."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("offset").alias("d"),
        F.min("offset").alias("lo"),
        F.max("offset").alias("hi"),
        F.sum(F.coalesce(F.length("key"), F.lit(0)) + F.length("value")).alias("b"),
    ).collect()[0]
    return {"n": r["n"], "d": r["d"], "lo": r["lo"], "hi": r["hi"], "bytes": r["b"] or 0}


def run_round(spark, engine, events, rnd: Round, tracer, jobs, stream_dir: str, warm_up: bool = False) -> None:
    """The round's calls in order. ``warm_up`` makes each kind of call once
    (one batch, one partition), which is enough to compile its plans."""
    from pyspark.sql import functions as F

    from flyq_spark import storage

    engine.create_topic(rnd.topic, partitions=PARTITIONS)
    parts = range(1) if warm_up else range(PARTITIONS)
    for lo, hi in rnd.batches[:1] if warm_up else rnd.batches:
        batch = events.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        rnd.timed(tracer, jobs, "produce", engine.produce, rnd.topic, batch)
    for p in range(PARTITIONS):
        rnd.leo[p] = engine.get_watermark(rnd.topic, p)[2]
    rnd.stored_bytes = dir_bytes(storage.topic_dir(engine.base_dir, rnd.topic))

    for p in parts:
        rnd.scan[p] = rnd.timed(
            tracer, jobs, "stream_from_offset",
            lambda p=p: scan_stats(engine.stream_from_offset(rnd.topic, p, 0)),
        )

    def sink(batch_df, _batch_id):
        for r in batch_df.groupBy("partition").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("offset").alias("d"),
            F.min("offset").alias("lo"), F.max("offset").alias("hi"),
        ).collect():
            rnd.stream.append(r.asDict())

    def replay():
        q = (
            spark.readStream.format("flyq")
            .option("base_dir", engine.base_dir)
            .option("topic", rnd.topic)
            .option("startingOffsets", "earliest")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(stream_dir, rnd.topic))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q.recentProgress

    rnd.progress = rnd.timed(tracer, jobs, "read_stream", replay)
    rnd.oft = rnd.timed(tracer, jobs, "offsets_for_times", engine.offsets_for_times, rnd.topic, rnd.ts_probe_ms)
    for i, u in enumerate(rnd.point_seeds[: len(parts)]):
        p = i % PARTITIONS
        off = int(u * rnd.leo[p])
        row = rnd.timed(tracer, jobs, "consume", engine.consume, rnd.topic, p, off)
        rnd.points.append((p, off, row))

    cap = min(
        sum(s.size_bytes for s in storage.partition_file_stats(engine.base_dir, rnd.topic, p))
        for p in range(PARTITIONS)
    )
    # now_ms = retention_ms = 0 puts the time cutoff at the epoch, so only
    # the size cap deletes: the oldest files, the large batch first
    rnd.timed(
        tracer, jobs, "apply_retention",
        lambda: engine.apply_retention(rnd.topic, now_ms=0, retention_ms=0,
                                       retention_bytes=int(cap * rnd.cap_frac)),
    )
    rnd.timed(tracer, jobs, "compact_partition", engine.compact_partition, rnd.topic, rnd.compact_part)


def verify(engine, events_tbl, rnd: Round, checks: Checks, drop: bool = False) -> None:
    """Log invariants of one finished round (see module docstring)."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from flyq_spark.functions.hashing import spark_partition_for_key

    rows = rnd.hi - rnd.lo
    t = rnd.topic
    checks.check(sum(rnd.leo.values()) == rows, f"{t}: LEO sum {sum(rnd.leo.values())} equals rows produced {rows}")
    sl = events_tbl.slice(rnd.lo, rows)
    in_bytes = sum(len(str(u)) for u in sl.column("user_id").to_pylist()) + pc.sum(
        pc.binary_length(sl.column("props").cast("binary"))).as_py()
    rnd.in_bytes = in_bytes
    checks.check(sum(s["bytes"] for s in rnd.scan.values()) == in_bytes,
                 f"{t}: replayed key+value bytes equal the bytes produced")
    for p in range(PARTITIONS):
        s, leo = rnd.scan[p], rnd.leo[p]
        checks.check(s["n"] == s["d"] == leo and (leo == 0 or (s["lo"], s["hi"]) == (0, leo - 1)),
                     f"{t}[{p}]: batch replay offsets unique and dense in [0, {leo})")
        got = sorted((r["lo"], r["hi"], r["n"], r["d"]) for r in rnd.stream if r["partition"] == p)
        if drop and got:
            got = got[:-1]
        n = sum(g[2] for g in got)
        contiguous = all(a[1] + 1 == b[0] for a, b in zip(got, got[1:]))
        checks.check(n == leo and all(g[2] == g[3] for g in got) and contiguous
                     and (leo == 0 or (got[0][0], got[-1][1]) == (0, leo - 1)),
                     f"{t}[{p}]: stream replay offsets unique and dense in [0, {leo})")
    for p, off in rnd.oft.items():
        if off is not None:
            row = engine.consume(t, p, off)
            checks.check(row is not None and row["timestamp"].timestamp() * 1000 >= rnd.ts_probe_ms - 1,
                         f"{t}[{p}]: offsets_for_times points at a record at or after the probe time")
    for p, off, row in rnd.points:
        checks.check(row is not None and row["offset"] == off
                     and spark_partition_for_key(bytes(row["key"]), PARTITIONS) == p,
                     f"{t}[{p}]: point consume at {off} returns that offset with a key routed there")
    after = {
        r["partition"]: r
        for r in engine.log(t).groupBy("partition").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("offset").alias("d"),
            F.min("offset").alias("lo"), F.max("offset").alias("hi"),
        ).collect()
    }
    for p in range(PARTITIONS):
        low, _, leo = engine.get_watermark(t, p)
        first = engine.consume(t, p, 0)
        checks.check((first is None and low == leo) or (first is not None and first["offset"] == low),
                     f"{t}[{p}]: low watermark {low} equals the first readable offset")
        a = after.get(p)
        checks.check(a is not None and a["n"] == a["d"] == leo - low and (a["lo"], a["hi"]) == (low, leo - 1),
                     f"{t}[{p}]: after retention and compaction offsets are unique and dense in [{low}, {leo})")


def run(ctx: Ctx) -> Outcome:
    import pyarrow.parquet as pq

    import datagen
    from sparkprobe import JobGroups, bench_spark, event_log_by_group, stop_spark, warm_python_workers

    from flyq_spark.engine import FlyQEngine
    from flyq_spark.streaming.datasource import register

    data_dir = os.path.join(ctx.workdir, "data")
    events_path = datagen.write_events(data_dir, ctx.seed, TINY_EVENTS_ROWS if ctx.tiny else EVENTS_ROWS)
    events_tbl = pq.read_table(events_path)
    ts = events_tbl.column("ts")
    ts_lo, ts_hi = (int(v.value) // 1000 for v in (ts[0], ts[len(ts) - 1]))
    round_rows = TINY_ROUND_ROWS if ctx.tiny else ROUND_ROWS

    spark, start_s = bench_spark("perfbench-log", ctx.workdir, ctx.trace)
    try:
        warm_s = [warm_python_workers(spark) for _ in range(3)]
        register(spark)
        from pyspark.sql import functions as F

        events = spark.read.parquet(events_path).select(
            "event_id",
            F.col("user_id").cast("string").cast("binary").alias("key"),
            F.col("props").cast("binary").alias("value"),
            F.col("ts").cast("timestamp").alias("timestamp"),
        )
        engine = FlyQEngine(spark, os.path.join(ctx.workdir, "log"))
        stream_dir = os.path.join(ctx.workdir, "checkpoints")
        tracer = Tracer(ctx.trace)
        jobs = JobGroups(spark, ctx.trace, "log")
        checks = Checks()
        gates = GateRunner(spark, data_dir, GATES, tracer, jobs, checks)

        # warm-up: each kind of engine call once, on the slice before the
        # first timed one and at full size so the hot paths get compiled,
        # untimed; then the gates' reference pass
        n_slices = len(events_tbl) // round_rows
        t0 = time.perf_counter()
        lo = ((ctx.seed - 1) % n_slices) * round_rows
        warm = Round(ctx.seed, -1, lo, round_rows, (ts_lo, ts_hi))
        run_round(spark, engine, events, warm, Tracer(False), JobGroups(spark, False), stream_dir, warm_up=True)
        warm_round_s = time.perf_counter() - t0
        gates_ref_s = gates.record()
        setup_s = start_s + statistics.median(warm_s) + warm_round_s + gates_ref_s
        if "corrupt_fingerprint" in ctx.inject:
            gates.ref[GATES[0]] = "0:corrupted"

        rounds: list[Round] = []
        failed = 0
        ctx.noise.start()
        start = time.perf_counter()
        deadline = start + ctx.seconds
        # start another round only while it is expected to end by half a
        # round past the deadline, so the window overshoots by at most that
        while not rounds or time.perf_counter() + 0.5 * (time.perf_counter() - start) / len(rounds) < deadline:
            i = len(rounds)
            lo = ((ctx.seed + i) % n_slices) * round_rows
            rnd = Round(ctx.seed, i, lo, round_rows, (ts_lo, ts_hi))
            rnd.fault = "raise_call" in ctx.inject
            try:
                run_round(spark, engine, events, rnd, tracer, jobs, stream_dir)
            except Exception as e:  # the call that raised counts as failed
                failed += 1
                print(f"log_bulk round {i} failed: {e!r}", file=sys.stderr)
                break
            rnd.times["gates"] = gates.run_pass(rnd.topic)
            rounds.append(rnd)
        window_s = time.perf_counter() - start
        ctx.noise.stop()
        rss = peak_rss_mb()

        t0 = time.perf_counter()
        for k, rnd in enumerate(rounds):
            verify(engine, events_tbl, rnd, checks, drop=("drop_fetch" in ctx.inject and k == 0))
        oracle_checked = gates.check_oracle()
        verify_s = time.perf_counter() - t0
        cores = spark.sparkContext.defaultParallelism
        layers: dict = {}
        detail: dict = {}
        if ctx.trace:
            layers = empty_layers()
            layers["session.start_s"][0] = start_s
            layers["session.warmup_s"][0] = warm_s[0]
            engine_layer(layers, detail, tracer.spans, window_s)
            if rounds:
                storage_layer(layers, detail, engine.base_dir, rounds[-1].topic, PARTITIONS)
            progress = [p for r in rounds for p in r.progress]
            trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
            latest = [p["durationMs"].get("latestOffset", 0) for p in progress]
            layers["streaming.batches"][0] = len(progress)
            layers["streaming.rows"][0] = sum(p.get("numInputRows", 0) for p in progress)
            layers["streaming.latest_offset_share"][0] = sum(latest) / sum(trig) if sum(trig) else 0
            if trig:
                detail["streaming.trigger_ms_p50"] = [statistics.median(trig), "ms"]
                detail["streaming.latest_offset_ms_p50"] = [statistics.median(latest), "ms"]
    finally:
        stop_spark(spark)
    if ctx.trace:
        gates.fill_layers(layers, detail, event_log_by_group(os.path.join(ctx.workdir, "eventlog")), window_s, cores)

    def total(kind: str) -> float:
        return sum(s for r in rounds for s in r.times.get(kind, []))

    def per_round(value) -> float | None:
        """Median over the finished rounds; None when none finished (the
        failed call is then the run's result)."""
        return statistics.median(value(r) for r in rounds) if rounds else None

    rows = sum(r.hi - r.lo for r in rounds)
    metrics = {
        "ingest_rows_per_s": [rows / total("produce") if rounds else None, "rows/s"],
        "scan_rows_per_s": [rows / total("stream_from_offset") if rounds else None, "rows/s"],
        "stream_rows_per_s": [rows / total("read_stream") if rounds else None, "rows/s"],
        "maintenance_s": [per_round(lambda r: sum(r.times["apply_retention"]) + sum(r.times["compact_partition"])), "s"],
        "stored_bytes_per_input_byte": [
            sum(r.stored_bytes for r in rounds) / sum(r.in_bytes for r in rounds) if rounds else None, "ratio"],
        "gates_wall_s": [per_round(lambda r: sum(r.times["gates"])), "s"],
        "rounds": [len(rounds), "count"],
    }
    info = {
        "setup": {"session_start_s": start_s, "warmup_s": warm_s, "warm_round_s": warm_round_s,
                  "gates_reference_s": gates_ref_s},
        "round_rows": round_rows,
        "batches": [r.batches for r in rounds],
        "oracle_checked": oracle_checked,
        "verify_s": verify_s,
        "peak_rss_mb": rss,
    }
    if ctx.trace:
        info["layer_detail"] = detail
    return Outcome(
        setup_s=setup_s,
        call_ms=[s * 1e3 for r in rounds for v in r.times.values() for s in v],
        calls_failed=failed + gates.failed,
        window_s=window_s,
        checks=checks,
        metrics=metrics,
        layers=layers,
        info=info,
        spans=tracer.spans,
    )
