"""``backfill``: a closed loop with one client draining a seeded backlog.

One job is: ``payload_queue`` batch read of the backlog directory →
``event_pipeline`` → ``http_batch_sink`` (MAX_EVENTS_PER_BATCH chunks) →
mock. Jobs repeat back to back for ``--seconds``; every job must deliver
exactly the generator's expected multiset of events.

Each job pays a fixed cost (Spark job, Python workers, one connection per
partition) of about 2 s on 4 cores whatever its size, so the backlog is
large enough that per-event work is most of a job. Untimed, unchecked
jobs warm the JVM first, because job time keeps falling for the first
three or four jobs: one over the small ``FIXED_PAYLOADS`` backlog, which
pays the cold start cheaply, then ``WARMUP_JOBS`` over the full backlog.

End-to-end: ``throughput_per_s`` is acknowledged events over the seconds
from job start to the return of ``http_batch_sink``, summed over the timed
jobs; ``latency_p50_s`` is the median over events of job start to receipt
at the mock (the whole backlog is due at job start), then the median over
the timed jobs.

Traced run, per layer: ``queue.scan_s`` is a source-only pass to the noop
sink, ``pipeline.s`` a source + pipeline pass to noop minus ``queue.scan_s``,
and ``sink.s`` the full job minus both (medians of ``LAYER_PASSES`` each).
``backfill.fixed_s`` is a full job over a backlog of ``FILES`` files of
``FIXED_PAYLOADS`` payloads in all: the per-job cost without the per-event
work. Then a ``STREAM_PAYLOADS`` backlog is drained through the streaming
path, ``streaming.pipeline.run_pipeline`` over the ``payload_queue`` stream
reader with a ``maxEventsPerBatch`` cap, so ``ProgressListener`` records
the phases of each micro-batch. The default ``available_now=True`` would
stop after one capped micro-batch (see README.md), so the drain uses the
default trigger and stops the query once the mock holds every event.
"""

from __future__ import annotations

import time
from collections import Counter

from gen import PayloadGen, write_backlog
from mock import check_delivery
from tracing import median, merge_windows

PAYLOADS = 80_000
FILES = 4  # one input partition per file: one wave on 4 cores
MIN_JOBS = 2
WARMUP_JOBS = 2
LAYER_PASSES = 3
FIXED_PAYLOADS = 400  # a job that is nearly all fixed cost: cold start, and backfill.fixed_s
STREAM_PAYLOADS = 12_000  # traced run: the streaming drain's backlog
STREAM_CAP = 1_000  # maxEventsPerBatch of the traced streaming drain
DRAIN_TIMEOUT = 120.0


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.e2e: dict = {}
        self.report: dict = {}
        self.attempted = 0
        self.failed = 0

    def run(self) -> None:
        ctx = self.ctx
        t0 = time.time()
        gen = PayloadGen(ctx.seed, ctx.hmac_key)
        self.expected = Counter(write_backlog(gen, ctx.path("queue"), PAYLOADS, FILES))
        fixed = Counter(write_backlog(gen, ctx.path("queue-fixed"), FIXED_PAYLOADS, FILES))
        if ctx.traced:
            streamed = Counter(write_backlog(gen, ctx.path("queue-stream"), STREAM_PAYLOADS, FILES))
        ctx.generated(t0)

        from fxa_amplitude_send_spark.operators.event_pipeline import event_pipeline
        from fxa_amplitude_send_spark.sinks.http_batch import http_batch_sink

        self.mock = ctx.start_mock()
        spark = ctx.session()
        cfg = ctx.pipeline_config()
        self.source = lambda queue="queue": (
            spark.read.format("payload_queue").option("path", ctx.path(queue)).load()
        )
        self.pipeline = lambda queue="queue": event_pipeline(self.source(queue), ctx.hmac_key)

        def job(queue="queue"):
            http_batch_sink(self.pipeline(queue), cfg)

        for queue in ["queue-fixed"] + ["queue"] * WARMUP_JOBS:
            self.mock.begin()  # drop the previous job's bodies
            with ctx.tracer.span("backfill.warmup"):
                job(queue)
        ctx.setup_done()

        latencies, self.job_s, self.epochs = [], [], []
        start = time.time()
        while len(self.job_s) < MIN_JOBS or time.time() - start < ctx.seconds:
            t_job, ep, conns = self._job(job, self.expected, span="backfill.job")
            self.job_s.append(t_job[1] - t_job[0])
            latencies.append(median([t - t_job[0] for t, n in ep.receipts for _ in range(n)]))
            self.epochs.append((ep, conns))
        events = sum(ep.events for ep, _ in self.epochs)
        self.e2e = {"throughput_per_s": events / sum(self.job_s), "latency_p50_s": median(latencies)}
        self.report = {
            "job_s": [round(t, 3) for t in self.job_s],
            "events_per_job": sum(self.expected.values()),
        }

        if ctx.traced:
            sink = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
            self.scan_s = self._passes("queue.scan", lambda: sink(self.source()))
            self.pipe_s = self._passes("pipeline", lambda: sink(self.pipeline()))
            fixed_jobs = [
                self._job(lambda: job("queue-fixed"), fixed, span="backfill.fixed")[0] for _ in range(LAYER_PASSES)
            ]
            self.fixed_s = median([t1 - t0 for t0, t1 in fixed_jobs])
            self._stream_drain(spark, cfg, ctx.path("queue-stream"), streamed)

    def _stream_drain(self, spark, cfg, queue: str, expected: Counter) -> None:
        from fxa_amplitude_send_spark.sinks.http_batch import http_batch_sink
        from fxa_amplitude_send_spark.streaming.metrics import ProgressListener
        from fxa_amplitude_send_spark.streaming.pipeline import run_pipeline

        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        stream = (
            spark.readStream.format("payload_queue")
            .option("path", queue)
            .option("maxEventsPerBatch", str(STREAM_CAP))
            .load()
        )
        want = sum(expected.values())
        self.mock.begin()
        with self.ctx.tracer.span("stream.drain") as span:
            query = run_pipeline(
                stream, cfg, self.ctx.path("checkpoint"), sink=http_batch_sink, available_now=False
            )
            try:
                deadline = time.time() + DRAIN_TIMEOUT
                while self.mock.received() < want and time.time() < deadline:
                    time.sleep(0.05)
            finally:
                query.stop()
        ep = self.mock.begin()
        self.attempted += want
        self.failed += check_delivery(expected, ep.keys())
        self.stream_rate = ep.events / (span["end"] - span["start"])

    def _job(self, job, expected: Counter, span: str) -> tuple:
        """Run one job; return its (start, end), the mock's epoch and the
        connections it opened. The delivery is checked after ``end``."""
        mock = self.mock
        conns0 = mock.connections
        mock.begin()
        with self.ctx.tracer.span(span):
            t0 = time.time()
            job()
            t1 = time.time()
        ep = mock.begin()
        got = ep.keys()
        ep.bodies = []  # keep only the counters
        ep.identify = sum(n for k, n in got.items() if k[1] == "$identify")
        self.attempted += sum(expected.values())
        self.failed += check_delivery(expected, got)
        return (t0, t1), ep, mock.connections - conns0

    def _passes(self, name: str, fn) -> float:
        times = []
        for _ in range(LAYER_PASSES):
            with self.ctx.tracer.span(name):
                t0 = time.time()
                fn()
                times.append(time.time() - t0)
        return median(times)

    def layers(self, log) -> dict:
        tracer = self.ctx.tracer
        jobs = [log.window(s["start"], s["end"]) for s in tracer.named("backfill.job")]
        scans = [log.window(s["start"], s["end"]) for s in tracer.named("queue.scan")]
        full = merge_windows(jobs)
        n_jobs = len(jobs)
        posts = sum(ep.posts for ep, _ in self.epochs)
        events = sum(ep.events for ep, _ in self.epochs)
        identify = sum(ep.identify for ep, _ in self.epochs)
        refused = sum(ep.refusals for ep, _ in self.epochs)
        job_s = median(self.job_s)
        drain = tracer.named("stream.drain")[0]
        stream_stats = merge_windows([log.window(drain["start"], drain["end"])])
        batches = [r for r in self.listener.records if r["type"] == "events.processed" and r["numInputRows"]]

        def phase(name):
            return median([r["durationMs"].get(name, 0) for r in batches])

        return {
            "backfill.job_s": job_s,
            "backfill.fixed_s": self.fixed_s,
            "queue.scan_s": self.scan_s,
            "queue.tasks": merge_windows(scans)["tasks"] / len(scans),
            "pipeline.s": self.pipe_s - self.scan_s,
            "pipeline.fanout": events / (events - identify),
            "pipeline.valid_share": (events - identify) / n_jobs / PAYLOADS,
            "sink.s": job_s - self.pipe_s,
            "sink.posts": posts / n_jobs,
            "sink.events_per_post": events / posts,
            "sink.bytes_per_event": sum(ep.bytes for ep, _ in self.epochs) / events,
            "sink.connections": sum(c for _, c in self.epochs) / n_jobs,
            "sink.retry_ratio": refused / (posts + refused),
            "executor.cpu_share.backfill": full["cpu_share"],
            "spark.jobs": full["jobs"] / n_jobs,
            "spark.stages": full["stages"] / n_jobs,
            "spark.tasks": full["tasks"] / n_jobs,
            "stream.events_per_s": self.stream_rate,
            "stream.batches": len(batches),
            "stream.rows_per_batch_p50": median([r["numInputRows"] for r in batches]),
            "stream.trigger_ms_p50": phase("triggerExecution"),
            "stream.latestOffset_ms_p50": phase("latestOffset"),
            "stream.queryPlanning_ms_p50": phase("queryPlanning"),
            "stream.addBatch_ms_p50": phase("addBatch"),
            "stream.walCommit_ms_p50": phase("walCommit"),
            "stream.commitOffsets_ms_p50": phase("commitOffsets"),
            "driver_only_share.stream": stream_stats["driver_only_share"],
        }
