"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload wire_clients|log_bulk \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds nothing: the program is the
checkout's own ``flyq_spark`` package and ``__spark_entry__.py``. Inputs are
made from ``--seed``; the timed window lasts ``--seconds``; outputs are
checked and every failed check counts as a failed operation.

Standard output: one ``name value unit`` line per metric, one JSON detail
line (every end-to-end metric of the workload, host noise, set-up
breakdown and, in traced runs, the per-layer detail and tracing overhead),
and last the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics of BENCHMARK.json (``--trace 0``)
or its per-layer metrics (``--trace 1``). Scratch files live under
``.perfbench/`` in the checkout; spans of traced runs are kept in
``.perfbench/spans/`` and results in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wire_clients", "log_bulk")


def program_present() -> str | None:
    """Why the checkout cannot be benchmarked, or None."""
    for rel in ("flyq_spark/engine.py", "flyq_spark/server.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from the root of a flyq-spark checkout"
    return None


def isolate(workdir: str) -> None:
    """Keep every scratch file of this process, its JVM and its children
    inside the run's work directory. The driver heap is the program's own
    default (``flyq_spark.session``), or ``SPARK_DRIVER_MEMORY`` if set."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # the short-lived JVM spark-submit starts first would write hsperfdata
    # to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp


def reap_descendants(timeout: float = 30) -> None:
    """Wait until every process this run started has exited; kill what is
    left after ``timeout`` seconds."""
    import signal
    import time

    from common import process_tree

    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def end_to_end(out, cpu_s: float) -> dict:
    """The end-to-end metrics every workload reports. BENCHMARK.json bounds
    setup_s, peak_rss_mb and stored_bytes_per_input_byte; the wall-clock
    call latency and rate and the CPU time per call are reported too, but
    on a shared host hypervisor steal and noisy neighbours move them by
    more than any bound the benchmark may set (see README). When no call
    completed, the per-call metrics are None."""
    n = len(out.call_ms)
    return {
        "setup_s": [out.setup_s, "s"],
        "peak_rss_mb": [out.info["peak_rss_mb"], "MiB"],
        "stored_bytes_per_input_byte": out.metrics["stored_bytes_per_input_byte"],
        "call_p50_ms": [statistics.median(out.call_ms) if n else None, "ms"],
        "calls_per_s": [n / out.window_s, "1/s"],
        "cpu_ms_per_call": [cpu_s * 1e3 / n if n else None, "ms"],
    }


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool = False,
        inject: frozenset = frozenset()) -> dict:
    """Run one workload; print the metric lines and the detail line and
    return the result object (the caller prints it last)."""
    from common import Ctx, HostNoise, latency_summary

    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, "runs", f"{workload}-{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    isolate(workdir)
    noise = HostNoise()
    ctx = Ctx(seed=seed, seconds=seconds, trace=trace, workdir=workdir, noise=noise,
              tiny=tiny, inject=inject)
    if workload == "wire_clients":
        import wire_clients as mod
    else:
        import log_bulk as mod
    try:
        out = mod.run(ctx)
    finally:
        reap_descendants()
        shutil.rmtree(workdir, ignore_errors=True)

    failed = out.calls_failed + len(out.checks.failures)
    attempted = len(out.call_ms) + out.calls_failed + out.checks.passed + len(out.checks.failures)
    e2e = end_to_end(out, noise.cpu_s)
    tail = latency_summary(out.call_ms)
    e2e["call_tail_ms"] = [tail["tail_ms"], f"ms@p{tail['tail_pct']}/n={tail['n']}"]
    e2e["failed_frac"] = [failed / attempted, "ratio"]
    e2e.update(out.metrics)

    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "window_s": out.window_s,
        "end_to_end": e2e,
        "failures": out.checks.failures,
        "host": noise.record(),
        "info": {k: v for k, v in out.info.items() if k != "layer_detail"},
        "call_ms": out.call_ms,
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    if trace:
        detail["layers"] = out.layers
        detail["layer_detail"] = out.info.get("layer_detail", {})
        spans_path = os.path.join(base, "spans", f"{workload}-{seed}.jsonl")
        from common import write_spans

        write_spans(spans_path, out.spans)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        untraced = os.path.join(results, f"{workload}-{seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                plain = json.load(f)["end_to_end"]
            detail["tracing_overhead"] = {
                k: [e2e[k][0] - plain[k][0], e2e[k][1]]
                for k in plain
                if k in e2e and isinstance(e2e[k][0], (int, float)) and isinstance(plain[k][0], (int, float))
            }
        else:
            detail["tracing_overhead"] = None
    with open(os.path.join(results, f"{workload}-{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(detail, f)

    for name, (value, unit) in e2e.items():
        print(f"{name} {value} {unit}")
    if trace:
        for name, (value, unit) in out.layers.items():
            print(f"{name} {value} {unit}")
        for name, (value, unit) in detail["layer_detail"].items():
            print(f"{name} {value} {unit}")
    for what in out.checks.failures:
        print(f"FAILED CHECK: {what}", file=sys.stderr)
    print(json.dumps(detail))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer"] if trace else spec["end_to_end"]
    source = out.layers if trace else e2e
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": source[m["name"]][0], "unit": m["unit"]} for m in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (used by selfcheck.py)")
    ap.add_argument("--inject", action="append", default=[], choices=("corrupt_fingerprint", "drop_fetch", "raise_call"),
                    help="plant a fault the checks must catch (used by selfcheck.py)")
    args = ap.parse_args(argv)
    why = program_present()
    if why:
        print(why, file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny, frozenset(args.inject))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
