"""``wire_clients``: two blocking wire clients in a closed loop against a
broker process.

Connection A produces keyless messages with seeded 64 B - 1 KiB payloads.
Connection B runs the reference group-consumer loop (``consume_with_group``
then ``commit_offset(offset + 1)``, as in examples/group_consumers.py) over
the topic's partitions in turn, and every MONITOR_EVERY-th iteration (the
first one included) polls
the partition's watermark and health and the group's lag (as in
examples/wire_monitor.py). Each client
sends its next request only when the previous one has returned.

Set-up ends with SETUP_PRODUCES seeded wire produces on connection A; the
stored-bytes ratio is taken right after them, so it covers the
one-file-per-produce path but not the number of produces a window fits.
"""

from __future__ import annotations

import json
import os
import queue
import statistics
import subprocess
import sys
import threading
import time

from common import Checks, Ctx, Outcome, Span, Tracer, latency_summary, peak_rss_mb
from layers import dir_bytes, empty_layers, engine_layer, storage_layer
from payloads import payload_stream, wire_payloads

TOPIC = "bench"
GROUP = "bench-group"
PARTITIONS = 2
PRESEED_BATCHES = 3
SETUP_PRODUCES = 6
MONITOR_EVERY = 2
HERE = os.path.dirname(os.path.abspath(__file__))

FETCH_OPS = {"consume_with_group", "commit_offset"}


class CountingSocket:
    """Socket proxy counting the bytes a client sends and receives."""

    def __init__(self, sock):
        self._sock = sock
        self.bytes_out = 0
        self.bytes_in = 0

    def sendall(self, data):
        self.bytes_out += len(data)
        return self._sock.sendall(data)

    def recv(self, n):
        got = self._sock.recv(n)
        self.bytes_in += len(got)
        return got

    def __getattr__(self, name):
        return getattr(self._sock, name)


class Broker:
    """The broker child process and its line protocol (see broker.py)."""

    def __init__(self, ctx: Ctx, spans_path: str):
        self.log = open(os.path.join(ctx.workdir, "broker.log"), "w")
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "broker.py"),
                "--workdir",
                os.path.join(ctx.workdir, "broker"),
                "--trace",
                str(int(ctx.trace)),
                "--spans",
                spans_path,
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            text=True,
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            line = line.strip()
            if line.startswith("{"):
                try:
                    self._lines.put(json.loads(line))
                except json.JSONDecodeError:
                    pass  # stray JVM output on the shared stdout
        self._lines.put(None)

    def next(self, timeout: float) -> dict:
        msg = self._lines.get(timeout=timeout)
        if msg is None:
            raise RuntimeError(f"broker exited with {self.proc.wait()}; see broker.log")
        return msg

    def ask(self, req: dict, timeout: float = 120) -> dict:
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        resp = self.next(timeout)
        if not resp.get("ok"):
            raise RuntimeError(f"broker refused {req['cmd']}: {resp}")
        return resp

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.ask({"cmd": "stop"}, timeout=60)
        except (RuntimeError, queue.Empty, OSError):
            pass
        finally:
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            self._reader.join(timeout=10)
            self.log.close()


def run(ctx: Ctx) -> Outcome:
    from flyq_spark import storage
    from flyq_spark.server import FlyQWireClient

    tracer = Tracer(ctx.trace)
    spans_path = os.path.join(ctx.workdir, "broker-spans.jsonl")
    preseed_count = 4 if ctx.tiny else 20
    setup_produces = 2 if ctx.tiny else SETUP_PRODUCES

    t0 = time.perf_counter()
    broker = Broker(ctx, spans_path)
    try:
        ready = broker.next(timeout=170)
        ready_s = time.perf_counter() - t0

        # set-up repeated PRESEED_BATCHES times: one seeded batch per call
        produced: dict[int, dict[int, bytes]] = {p: {} for p in range(PARTITIONS)}
        preseed_s = []
        for b in range(PRESEED_BATCHES):
            t1 = time.perf_counter()
            resp = broker.ask(
                {"cmd": "preseed", "topic": TOPIC, "partitions": PARTITIONS,
                 "seed": ctx.seed, "batch": b, "count": preseed_count}
            )
            preseed_s.append(time.perf_counter() - t1)
            for (p, off), v in zip(resp["acks"], wire_payloads(ctx.seed, f"preseed-{b}", preseed_count)):
                produced[p][off] = v

        a = FlyQWireClient("127.0.0.1", ready["port"], timeout=120)
        b = FlyQWireClient("127.0.0.1", ready["port"], timeout=120)
        setup_payloads = payload_stream(ctx.seed, "setup")
        produce_s = []
        for _ in range(setup_produces):
            v = next(setup_payloads)
            t1 = time.perf_counter()
            p, off = a.produce(TOPIC, v)
            produce_s.append(time.perf_counter() - t1)
            produced[p][off] = v
        setup_s = ready_s + statistics.median(preseed_s) + setup_produces * statistics.median(produce_s)
        stored = dir_bytes(storage.topic_dir(os.path.join(ctx.workdir, "broker", "log"), TOPIC))
        produced_bytes = sum(len(v) for part in produced.values() for v in part.values())

        a._sock = CountingSocket(a._sock)
        b._sock = CountingSocket(b._sock)

        lat: dict[str, list[float]] = {"produce": [], "fetch": [], "fetch_empty": [], "control": []}
        client_spans: dict[str, list] = {"A": [], "B": []}
        acked: list[tuple[int, int, bytes]] = []
        fetched: list[tuple[int, int, bytes]] = []
        failed = {"A": 0, "B": 0}
        n_req = {"A": 0, "B": 0}
        req_ms: list[float] = []
        ctx.noise.start()
        start = time.perf_counter()
        deadline = start + ctx.seconds

        def call(conn: str, op: str, fn, *args):
            """One timed wire request; returns (result, ms)."""
            if "raise_call" in ctx.inject:
                raise RuntimeError("injected fault: the wire request raised")
            k = n_req[conn]
            n_req[conn] += 1
            with tracer.span(f"wire.{op}", "wire", request=f"{conn}:{k}", conn=conn) as sp:
                t = time.perf_counter()
                out = fn(*args)
                ms = (time.perf_counter() - t) * 1e3
            req_ms.append(ms)
            if sp is not None:
                client_spans[conn].append(sp)
            return out, ms

        def producer() -> None:
            payloads = payload_stream(ctx.seed, "producer")
            try:
                while time.perf_counter() < deadline:
                    v = next(payloads)
                    (p, off), ms = call("A", "produce", a.produce, TOPIC, v)
                    lat["produce"].append(ms)
                    acked.append((p, off, v))
            except Exception as e:  # the server closes the connection on error
                failed["A"] += 1
                print(f"producer request failed: {e!r}", file=sys.stderr)

        def consumer() -> None:
            it = 0
            try:
                while time.perf_counter() < deadline:
                    p = it % PARTITIONS
                    it += 1
                    msg, ms = call("B", "consume_with_group", b.consume_with_group, TOPIC, p, GROUP)
                    if msg is None:
                        lat["fetch_empty"].append(ms)
                    else:
                        _, ms2 = call("B", "commit_offset", b.commit_offset, TOPIC, p, GROUP, msg["offset"] + 1)
                        lat["fetch"].append(ms + ms2)
                        fetched.append((p, msg["offset"], msg["value"]))
                    if it % MONITOR_EVERY != 1:
                        continue
                    polls = [
                        ("watermark", b.watermark, (TOPIC, p)),
                        ("consumer_lag", b.consumer_lag, (GROUP, [TOPIC])),
                        ("partition_health", b.partition_health, (TOPIC, p)),
                    ]
                    for op, fn, args in polls:
                        if time.perf_counter() >= deadline:
                            break
                        _, ms = call("B", op, fn, *args)
                        lat["control"].append(ms)
            except Exception as e:
                failed["B"] += 1
                print(f"consumer request failed: {e!r}", file=sys.stderr)

        threads = [threading.Thread(target=producer), threading.Thread(target=consumer)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window_s = time.perf_counter() - start
        ctx.noise.stop()
        rss = peak_rss_mb()
        wire_counts = {
            "requests": n_req["A"] + n_req["B"],
            "bytes_out": a._sock.bytes_out + b._sock.bytes_out,
            "bytes_in": a._sock.bytes_in + b._sock.bytes_in,
        }

        if "drop_fetch" in ctx.inject and fetched:
            fetched.pop(len(fetched) // 2)
        checks = verify(b, produced, acked, fetched)
        a.close()
        b.close()
    finally:
        broker.stop()

    metrics = wire_metrics(lat, wire_counts["requests"], window_s)
    metrics["stored_bytes_per_input_byte"] = [stored / produced_bytes, "ratio"]
    info = {
        "setup": {"broker_ready_s": ready_s, "preseed_s": preseed_s, "wire_produce_s": produce_s},
        "requests": n_req,
        "acked": len(acked),
        "fetched": len(fetched),
        "empty_fetches": len(lat["fetch_empty"]),
    }
    layers: dict = {}
    spans: list = []
    if ctx.trace:
        layers, detail, spans = wire_layers(
            ctx, tracer, client_spans, spans_path, wire_counts, window_s, ready, preseed_s, setup_produces
        )
        info["layer_detail"] = detail
    return Outcome(
        setup_s=setup_s,
        call_ms=req_ms,
        calls_failed=failed["A"] + failed["B"],
        window_s=window_s,
        checks=checks,
        metrics=metrics,
        layers=layers,
        info=info | {"peak_rss_mb": rss},
        spans=spans,
    )


def wire_metrics(lat: dict, requests: int, window_s: float) -> dict:
    prod = latency_summary(lat["produce"])
    fetch = latency_summary(lat["fetch"])
    ctrl = latency_summary(lat["control"])
    return {
        "produce_ack_p50_ms": [prod["p50_ms"], "ms"],
        "produce_ack_tail_ms": [prod["tail_ms"], f"ms@p{prod['tail_pct']}/n={prod['n']}"],
        "fetch_p50_ms": [fetch["p50_ms"], "ms"],
        "fetch_tail_ms": [fetch["tail_ms"], f"ms@p{fetch['tail_pct']}/n={fetch['n']}"],
        "control_p50_ms": [ctrl["p50_ms"], "ms"],
        "wire_ops_per_s": [requests / window_s, "ops/s"],
    }


def verify(cli, produced: dict, acked: list, fetched: list) -> Checks:
    """Acked offsets dense per partition, fetched bytes equal produced
    bytes, final lag equal to the model. Runs after the timed window."""
    checks = Checks()
    checks.check(all(0 <= p < PARTITIONS for p, _, _ in acked), "produce acks name a partition of the topic")
    for p, off, v in acked:
        produced.setdefault(p, {})[off] = v
    leo = {}
    for p in range(PARTITIONS):
        wm = cli.watermark(TOPIC, p)
        leo[p] = wm["log_end_offset"]
        offs = sorted(produced[p])
        checks.check(offs == list(range(leo[p])),
                     f"acked offsets of partition {p} are dense in [0, LEO={leo[p]})")
    got: dict[int, list[int]] = {p: [] for p in range(PARTITIONS)}
    for p, off, v in fetched:
        got[p].append(off)
        checks.check(produced[p].get(off) == v, f"fetched bytes at {p}:{off} equal the produced bytes")
    for p in range(PARTITIONS):
        checks.check(got[p] == list(range(len(got[p]))),
                     f"group fetches of partition {p} are dense from offset 0")
    lag = cli.consumer_lag(GROUP, [TOPIC])
    model_total = 0
    for part in lag["partitions"]:
        p = part["partition"]
        committed = len(got[p])
        high = leo[p] - 1 if leo[p] > 0 else 0
        model_total += max(0, high - committed)
        checks.check(part["committed_offset"] == committed,
                     f"committed offset of partition {p} equals fetched count")
    checks.check(lag["total_lag"] == model_total,
                 f"final lag {lag['total_lag']} equals the model {model_total}")
    return checks


def wire_layers(ctx, tracer, client_spans, spans_path, wire_counts, window_s, ready, preseed_s, setup_produces):
    """Per-layer metrics of a traced run. Engine spans come from the
    broker; each is paired with the client request it served: requests on
    one connection are sequential and every wire op makes exactly one
    engine call, so the k-th engine call of a handler thread answers the
    k-th request of that thread's connection, after the set-up produces
    on A."""
    engine_spans = []
    if os.path.exists(spans_path):
        with open(spans_path) as f:
            for line in f:
                rec = json.loads(line)
                engine_spans.append(
                    Span(rec["id"], rec["name"], rec["layer"], rec["start_ns"], rec["end_ns"],
                         rec["parent"], rec["request"], rec["attrs"])
                )
    # pre-seed produces bypass the traced engine, so every span here is a
    # wire request: the set-up produces on A, the timed ones, then the
    # post-window checks on B
    by_thread: dict[int, list] = {}
    for sp in engine_spans:
        by_thread.setdefault(sp.attrs["conn"], []).append(sp)
    overhead: dict[str, list[float]] = {"produce": [], "fetch": [], "control": []}
    paired = 0
    for sps in by_thread.values():
        sps.sort(key=lambda s: s.start_ns)
        conn = "A" if sps[0].name == "engine.produce" else "B"
        if conn == "A":
            sps = sps[setup_produces:]
        for cs, es in zip(client_spans[conn], sps):
            es.parent, es.request = cs.span_id, cs.request
            paired += 1
            op = cs.name.split(".", 1)[1]
            cls = "produce" if op == "produce" else "fetch" if op in FETCH_OPS else "control"
            overhead[cls].append(cs.ms - es.ms)
    layers = empty_layers()
    detail: dict = {"paired_requests": [paired, "count"]}
    layers["session.start_s"][0] = ready["session_start_s"]
    layers["session.warmup_s"][0] = preseed_s[0]
    layers["wire.requests"][0] = wire_counts["requests"]
    layers["wire.bytes_out"][0] = wire_counts["bytes_out"]
    layers["wire.bytes_in"][0] = wire_counts["bytes_in"]
    client_total = sum(cs.ms for spans in client_spans.values() for cs in spans)
    waited = sum(sum(v) for v in overhead.values())
    layers["server.wait_share"][0] = waited / client_total if client_total else 0
    for cls, vals in overhead.items():
        if vals:
            detail[f"server.overhead_ms.{cls}"] = [statistics.median(vals), "ms"]
    in_window = [sp for sp in engine_spans if sp.request is not None]
    engine_layer(layers, detail, in_window, window_s)
    storage_layer(layers, detail, os.path.join(ctx.workdir, "broker", "log"), TOPIC, PARTITIONS)
    return layers, detail, list(tracer.spans) + engine_spans
