"""Timed ``__spark_entry__`` gate calls with correctness fingerprints.

A reference call records each gate's fingerprint: row count plus a hash of
the rows canonicalized as tools/verify_local.py does (columns by name, rows
sorted), so it is order-insensitive. Every timed call is compared with it,
and each recorded fingerprint is checked once against the DuckDB oracle
where ``oracle_sql()`` has an entry.
"""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import sys
import time

from common import Checks


def fingerprint(cols: list[str], rows: list[tuple]) -> str:
    from tools.verify_local import canon_rows

    h = hashlib.sha256()
    for r in canon_rows(cols, rows):
        h.update(repr(r).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


class GateRunner:
    """Runs gates on one data directory and keeps per-gate samples."""

    def __init__(self, spark, data_dir: str, names, tracer, jobs, checks: Checks):
        import __spark_entry__ as entry

        self.spark = spark
        self.data_dir = data_dir
        self.names = tuple(names)
        self.queries = entry.queries()
        self.tracer = tracer
        self.jobs = jobs
        self.checks = checks
        self.ref: dict[str, str] = {}
        self.seconds: dict[str, list[float]] = {g: [] for g in self.names}
        self.groups: dict[str, list[str]] = {g: [] for g in self.names}
        self.failed = 0

    def _collect(self, g: str) -> str:
        df = self.queries[g](self.spark, self.data_dir)
        return fingerprint(df.columns, [tuple(r) for r in df.collect()])

    def record(self) -> float:
        """Reference pass (also the gates' warm-up); returns seconds."""
        t0 = time.perf_counter()
        for g in self.names:
            self.ref[g] = self._collect(g)
        return time.perf_counter() - t0

    def run_pass(self, tag: str) -> list[float]:
        """One timed call per gate; returns the call times in seconds. A
        gate that raises counts as a failed call."""
        out = []
        for g in self.names:
            try:
                with self.jobs.group(g) as box, self.tracer.span(f"gate.{g}", "operators", request=f"{tag}:{g}"):
                    t = time.perf_counter()
                    df = self.queries[g](self.spark, self.data_dir)
                    rows = [tuple(r) for r in df.collect()]
                    s = time.perf_counter() - t
            except Exception as e:
                self.failed += 1
                print(f"gate {g} failed: {e!r}", file=sys.stderr)
                continue
            self.groups[g].append(box["group"])
            self.seconds[g].append(s)
            out.append(s)
            self.checks.check(fingerprint(df.columns, rows) == self.ref[g], f"gate {g} fingerprint equals the recorded one")
        return out

    def check_oracle(self) -> list[str]:
        """Cross-check every recorded fingerprint that has a DuckDB oracle."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        checked = []
        try:
            for path in glob.glob(os.path.join(self.data_dir, "*.parquet")):
                table = os.path.basename(path)[: -len(".parquet")]
                con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for g in self.names:
                if g not in oracles:
                    continue
                tbl = con.sql(oracles[g]).arrow()
                cols = [c.to_pylist() for c in tbl.columns]
                fp = fingerprint(list(tbl.column_names), list(zip(*cols)) if cols else [])
                self.checks.check(fp == self.ref[g], f"recorded fingerprint of {g} equals the DuckDB oracle's")
                checked.append(g)
        finally:
            con.close()
        return checked

    def fill_layers(self, layers: dict, detail: dict, events: dict, window_s: float, cores: int) -> None:
        """Operator-layer metrics from the timed calls and the event log
        (``events``: per-job-group totals from sparkprobe)."""
        tot = {"calls": 0, "jobs": 0, "tasks": 0, "shuffle": 0, "exec": 0.0, "wall": 0.0}
        for g in self.names:
            n = len(self.seconds[g])
            if not n:
                continue
            recs = [events.get(gid, {}) for gid in self.groups[g]]
            g_jobs = sum(r.get("jobs", 0) for r in recs)
            g_exec = sum(r.get("executor_run_s", 0.0) for r in recs)
            wall = sum(self.seconds[g])
            tot["calls"] += n
            tot["jobs"] += g_jobs
            tot["tasks"] += sum(r.get("tasks", 0) for r in recs)
            tot["shuffle"] += sum(r.get("shuffle_write_bytes", 0) for r in recs)
            tot["exec"] += g_exec
            tot["wall"] += wall
            layers[f"gate.{g}.spark_jobs"][0] = g_jobs / n
            layers[f"gate.{g}.share"][0] = wall / window_s
            detail[f"gate.{g}.s"] = [statistics.median(self.seconds[g]), "s"]
            detail[f"gate.{g}.executor_run_s"] = [g_exec / n, "s"]
            # wall time minus executor time spread over the cores: the
            # driver and scheduling floor of one call
            detail[f"gate.{g}.driver_floor_s"] = [(wall - g_exec / cores) / n, "s"]
        layers["gates.calls"][0] = tot["calls"]
        layers["gates.spark_jobs"][0] = tot["jobs"]
        layers["gates.spark_tasks"][0] = tot["tasks"]
        layers["gates.shuffle_bytes"][0] = tot["shuffle"]
        layers["gates.executor_share"][0] = tot["exec"] / (tot["wall"] * cores) if tot["wall"] else 0
