"""``query_mix``: a closed loop with one client running passes over
registered queries on seeded parquet tables.

Reads, lakehouse write gates and a streaming gate run side by side, so a
change that makes one class cheaper by making another dearer shows in
the pass time. The warm-up pass is also the correctness pass: each
query's rows are compared once with its DuckDB oracle through
``tests/oracle_compare.compare``; timed passes then run each query to the
noop sink, as ``bench.py`` does.

End-to-end: each query's latency is its median across the timed passes.
``throughput_per_s`` is the queries of one pass over the sum of those
medians, ``latency_p50_s`` their median over queries. Taking the median
per query drops a slow pass of one query without dropping a whole pass.
"""

from __future__ import annotations

import os
import time

from gen import write_tables
from tracing import median, merge_windows

READS = ("q_tpch_q3", "q_scan_project")
WRITES = ("q_versioned_mor_merge",)
STREAM_GATES = ("q_stream_dedup",)
CLASSES = {"read": READS, "commit": WRITES, "stream_gate": STREAM_GATES}
SCALE = 0.01
MIN_PASSES = 3
LOAD_TABLE_CALLS = 2  # per table, traced run only


def _tree(root: str) -> dict[str, tuple[int, int, int]]:
    """(inode, mtime ns, size) of every file under ``root``: a file that is
    rewritten in place or deleted and written again changes at least one."""
    stats = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            stats[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return stats


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.e2e: dict = {}
        self.report: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.written: dict[str, list[tuple[int, int]]] = {}  # (files, bytes) per pass

    def run(self) -> None:
        ctx = self.ctx
        t0 = time.time()
        self.sf = ctx.path("tables")
        write_tables(self.sf, ctx.seed, SCALE)
        ctx.generated(t0)

        from fxa_amplitude_send_spark.plans import all_oracles, all_queries
        from tests.oracle_compare import compare

        queries, oracles = all_queries(), all_oracles()
        self.names = [q for names in CLASSES.values() for q in names]
        spark = ctx.session()

        for name in self.names:  # warm-up + correctness, outside the timed passes
            self.attempted += 1
            try:
                problems = compare(queries[name](spark, self.sf), oracles[name], self.sf)
            except Exception as exc:  # noqa: BLE001 - a raising query is a failed one
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                self.failed += 1
                self.errors[name] = problems[0][:200]
        ctx.setup_done()

        self.passes: list[dict[str, float]] = []
        start = time.time()
        while len(self.passes) < MIN_PASSES or time.time() - start < ctx.seconds:
            self.passes.append({name: self._timed(queries[name], name) for name in self.names})
        totals = [sum(p.values()) for p in self.passes]
        per_query = {q: median([p[q] for p in self.passes]) for q in self.names}
        self.e2e = {
            "throughput_per_s": len(self.names) / sum(per_query.values()),
            "latency_p50_s": median(list(per_query.values())),
        }
        self.class_s = {
            cls: median([sum(p[q] for q in names) for p in self.passes]) for cls, names in CLASSES.items()
        }
        self.report = {
            "passes": len(self.passes),
            "pass_s": [round(t, 3) for t in totals],
            **{f"{c}_s": v for c, v in self.class_s.items()},
            "query_s": {q: round(t, 3) for q, t in per_query.items()},
        }
        if self.errors:
            self.report["errors"] = self.errors

        if ctx.traced:
            from fxa_amplitude_send_spark.sources.tables import TABLE_NAMES, load_table

            for _ in range(LOAD_TABLE_CALLS):
                for table in TABLE_NAMES:
                    with ctx.tracer.span("tables.load_table", table=table):
                        load_table(spark, self.sf, table)

    def _timed(self, fn, name: str) -> float:
        ctx = self.ctx
        before = _tree(ctx.path("tmp")) if ctx.traced and name in WRITES else None
        self.attempted += 1
        with ctx.tracer.span(f"plans.{name}"):
            t0 = time.time()
            try:
                fn(ctx.spark, self.sf).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a raising query is a failed one
                self.failed += 1
                self.errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            elapsed = time.time() - t0
        if before is not None:
            after = _tree(ctx.path("tmp"))
            new = [st[2] for p, st in after.items() if before.get(p) != st]
            self.written.setdefault(name, []).append((len(new), sum(new)))
        return elapsed

    def layers(self, log) -> dict:
        tracer = self.ctx.tracer
        out = {f"mix.{cls}_s": s for cls, s in self.class_s.items()}
        windows: dict[str, list] = {}
        for span in tracer.named("plans."):
            windows.setdefault(span["name"][len("plans.") :], []).append(log.window(span["start"], span["end"]))
        n = len(self.passes)
        for name, ws in windows.items():
            out[f"plans.{name}_s"] = median([(w.hi - w.lo) / 1000 for w in ws])
            out[f"plans.{name}.jobs"] = merge_windows(ws)["jobs"] / len(ws)
        for cls, names in CLASSES.items():
            stats = merge_windows([w for q in names for w in windows[q]])
            out[f"driver_only_share.{cls}"] = stats["driver_only_share"]
            out[f"executor.cpu_share.{cls}"] = stats["cpu_share"]
        for name, passes in self.written.items():
            out[f"commit.{name}.files_written"] = median([files for files, _ in passes])
            out[f"commit.{name}.bytes_written"] = median([size for _, size in passes])
        loads = tracer.named("tables.load_table")
        load_ws = [log.window(s["start"], s["end"]) for s in loads]
        out["tables.load_table_s"] = median([s["end"] - s["start"] for s in loads])
        out["tables.load_table_jobs"] = merge_windows(load_ws)["jobs"] / len(load_ws)
        every = merge_windows([w for ws in windows.values() for w in ws])
        out["spark.jobs"] = every["jobs"] / n
        out["spark.stages"] = every["stages"] / n
        out["spark.tasks"] = every["tasks"] / n
        return out
