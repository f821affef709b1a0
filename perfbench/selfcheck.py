"""Self-check of the benchmark, in tiny mode (1000 events, 4-message
pre-seed batches, a few seconds per window). Run from the root of a checkout:

    python3 perfbench/selfcheck.py

It runs every workload untraced and traced and asserts that

- the last line is the result object with exactly the BENCHMARK.json
  metrics, by name and unit, and the run is correct;
- every end-to-end metric the workload names prints with a unit;
- a traced run writes a span file and reports the tracing overhead;
- a corrupted expected fingerprint, a dropped fetched message and a timed
  call that raises are reported as failures, in a result line;
- in a directory holding only BENCHMARK.json and perfbench/, the command
  exits non-zero without printing a result.

Exit code 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "6"

# the end-to-end metrics each workload prints in its detail line
NAMED = {
    "wire_clients": ["produce_ack_p50_ms", "produce_ack_tail_ms", "fetch_p50_ms", "fetch_tail_ms",
                     "control_p50_ms", "wire_ops_per_s"],
    "log_bulk": ["ingest_rows_per_s", "scan_rows_per_s", "stream_rows_per_s", "maintenance_s",
                 "gates_wall_s"],
}
COMMON = ["setup_s", "failed_frac", "peak_rss_mb", "stored_bytes_per_input_byte", "call_p50_ms",
          "call_tail_ms", "calls_per_s", "cpu_ms_per_call"]


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", SECONDS, "--trace", str(trace), "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in NAMED:
        for trace in (0, 1):
            rc, lines = bench(w, trace)
            tag = f"{w} trace={trace}"
            expect(rc == 0 and len(lines) >= 2, f"{tag}: exits 0 with a detail and a result line")
            if rc != 0 or len(lines) < 2:
                continue
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])
            expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                   f"{tag}: correct, nothing failed ({detail.get('failures')})")
            want = spec["per_layer"] if trace else spec["end_to_end"]
            got = result["metrics"]
            expect(list(got) == [m["name"] for m in want]
                   and all(got[m["name"]]["unit"] == m["unit"] for m in want)
                   and all(isinstance(v["value"], (int, float)) for v in got.values()),
                   f"{tag}: result metrics are BENCHMARK.json's, with units and numeric values")
            e2e = detail["end_to_end"]
            missing = [n for n in COMMON + NAMED[w]
                       if n not in e2e or not isinstance(e2e[n][0], (int, float)) or not e2e[n][1]]
            expect(not missing, f"{tag}: every named end-to-end metric prints with a unit {missing or ''}")
            printed = {ln.split(" ")[0] for ln in lines[:-2]}
            expect(all(n in printed for n in COMMON + NAMED[w]), f"{tag}: metric lines printed")
            if trace:
                spans = os.path.join(ROOT, detail["spans_file"])
                with open(spans) as f:
                    recs = [json.loads(ln) for ln in f]
                expect(bool(recs) and all({"name", "start_ns", "end_ns", "parent", "request", "self_ms"} <= set(r)
                                          for r in recs), f"{tag}: span file {detail['spans_file']}")
                expect(detail.get("tracing_overhead") is not None, f"{tag}: tracing overhead reported")

    for w, fault in (("log_bulk", "corrupt_fingerprint"), ("log_bulk", "drop_fetch"),
                     ("wire_clients", "drop_fetch"), ("log_bulk", "raise_call"),
                     ("wire_clients", "raise_call")):
        rc, lines = bench(w, 0, "--inject", fault)
        result = json.loads(lines[-1]) if rc == 0 and lines else {}
        expect(result.get("correct") is False and result.get("failed", 0) > 0,
               f"{w}: {fault} is reported as a failure")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines = bench("wire_clients", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and not any(ln.startswith('{"correct"') for ln in lines),
           "bare directory: non-zero exit, no result printed")

    print(f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
