"""Broker launcher for the ``wire_clients`` workload.

Runs ``FlyQServer`` over a ``FlyQEngine`` in its own process, the way a
broker runs apart from its clients. The parent talks to it over
stdin/stdout, one JSON object per line:

    -> {"cmd": "preseed", "topic": t, "partitions": n, "seed": s, "batch": i, "count": k}
    <- {"ok": true, "s": seconds, "acks": [[partition, offset], ...]}
    -> {"cmd": "stop"}
    <- {"ok": true}

The first line it prints is ``{"ready": true, "port": p, ...}`` once the
server listens. In a traced run the server gets a delegating engine that
records one span per engine call (with the handler thread, which maps it
to a connection, and the call's Spark jobs and tasks); the spans are
written to ``--spans`` on stop.

    python3 perfbench/broker.py --workdir DIR --trace 0|1 [--spans FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from common import Tracer  # noqa: E402
from payloads import wire_payloads  # noqa: E402


class TracedEngine:
    """Delegates every attribute to the real engine; public method calls
    are wrapped in an ``engine`` span tagged with the calling thread."""

    def __init__(self, engine, tracer: Tracer, jobs):
        self._engine = engine
        self._tracer = tracer
        self._jobs = jobs

    def __getattr__(self, name):
        attr = getattr(self._engine, name)
        if name.startswith("_") or not callable(attr):
            return attr

        def call(*args, **kwargs):
            with self._jobs.group(name) as g:
                with self._tracer.span(
                    f"engine.{name}", "engine", conn=threading.get_ident()
                ) as sp:
                    out = attr(*args, **kwargs)
            sp.attrs["spark_jobs"] = g["jobs"]
            sp.attrs["spark_tasks"] = g["tasks"]
            return out

        return call


def reply(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()
    trace = bool(args.trace)

    from sparkprobe import JobGroups, bench_spark, stop_spark

    from flyq_spark.engine import FlyQEngine
    from flyq_spark.server import FlyQServer

    spark, start_s = bench_spark("perfbench-broker", args.workdir, trace)
    engine = FlyQEngine(spark, os.path.join(args.workdir, "log"))
    tracer = Tracer(trace, id_base=10**9)
    served = TracedEngine(engine, tracer, JobGroups(spark, trace, "broker")) if trace else engine
    server = FlyQServer(served)
    server.start()
    reply({"ready": True, "port": server.port, "session_start_s": start_s, "pid": os.getpid()})

    try:
        for line in sys.stdin:
            req = json.loads(line)
            if req["cmd"] == "stop":
                break
            if req["cmd"] == "preseed":
                t0 = time.perf_counter()
                engine.create_topic(req["topic"], partitions=req["partitions"])
                msgs = [
                    {"key": None, "value": v, "timestamp": int(time.time() * 1000)}
                    for v in wire_payloads(req["seed"], f"preseed-{req['batch']}", req["count"])
                ]
                acks = engine.produce(req["topic"], msgs)
                reply({"ok": True, "s": time.perf_counter() - t0, "acks": acks})
            else:
                reply({"ok": False, "error": f"unknown command {req['cmd']!r}"})
    finally:
        server.stop()
        if trace and args.spans:
            tracer.write(args.spans)
        stop_spark(spark)
    reply({"ok": True})
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
