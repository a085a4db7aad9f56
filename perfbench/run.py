"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run gets fresh scratch directories under
``.perfbench/``, builds one Spark session through the engine's public
``session.build_session``, runs the workload against seeded inputs and a
loopback ``/batch`` mock, checks the outputs and prints a human-readable
report followed by ONE JSON line: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``).

With ``--trace 1`` the Spark event log is enabled and spans are kept around
each call into an engine layer; both are written to
``.perfbench/traces/<workload>-seed<n>.json`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

CPUS = 4  # the box size every number is quoted at
API_KEY = "bench-amplitude-key"
HMAC_KEY = "bench-hmac-key"
MAX_EVENTS_PER_BATCH = 1000  # POST chunk cap, checked by the mock
REFUSE_EVERY = 16  # the mock answers 503 to one first-time POST in 16 (an assumed rate)
REAP_TIMEOUT = 20.0  # seconds left to child processes to end before they are killed


def _process_start() -> float:
    """Epoch seconds at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()


class Ctx:
    """One run: its directories, the mock, the session and the tracer."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.hmac_key = HMAC_KEY
        self.dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.dir, sub))
        self.gen_s = 0.0
        self.setup_s = None
        self.spark = None
        self.mock = None
        from tracing import RssSampler, Tracer

        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", self.traced)
        self.rss = RssSampler()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def isolate(self) -> None:
        """Process-wide settings that must precede the JVM launch: every
        temp and warehouse path lives in this run's directory, so no cache
        from an earlier run (``/tmp/fxa_spark_*``) can be reused, and the
        Python workers can import the engine (the payload_queue source is
        unpickled there)."""
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        confs = [
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            f"spark.sql.warehouse.dir={self.path('warehouse')}",
        ]
        if self.traced:
            from tracing import eventlog_confs

            confs += eventlog_confs(self.path("eventlog"))
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"

    def generated(self, t0: float) -> None:
        self.gen_s += time.time() - t0

    def start_mock(self):
        from mock import BatchMock

        self.mock = BatchMock(API_KEY, MAX_EVENTS_PER_BATCH, self.seed, REFUSE_EVERY, threads=CPUS)
        return self.mock

    def pipeline_config(self):
        from fxa_amplitude_send_spark.config import PipelineConfig

        return PipelineConfig(
            amplitude_api_key=API_KEY,
            hmac_key=HMAC_KEY,
            max_events_per_batch=MAX_EVENTS_PER_BATCH,
            endpoint=self.mock.endpoint,
            max_retries=3,
        )

    def session(self):
        from fxa_amplitude_send_spark.session import build_session
        from fxa_amplitude_send_spark.sources.queue_datasource import PayloadQueueDataSource

        with self.tracer.span("session.build"):
            self.spark = build_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.dataSource.register(PayloadQueueDataSource)
        return self.spark

    def setup_done(self) -> None:
        """Set-up ends here: process start to session built, sources
        registered and warm-up done, minus input generation."""
        self.setup_s = time.time() - T_PROCESS - self.gen_s

    def teardown(self) -> None:
        """Stop the session, the driver JVM (and with it the Python
        workers) and the mock, and wait for each to end."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                gateway.shutdown()
                proc.stdin.close()  # the gateway server exits when stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.mock is not None:
            self.mock.stop()
        _reap_children()


def _reap_children() -> None:
    """Wait for every remaining descendant (PySpark daemon and workers);
    kill what is still running after ``REAP_TIMEOUT``."""
    from tracing import descendants

    deadline = time.time() + REAP_TIMEOUT
    while kids := descendants(os.getpid()):
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("backfill", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fxa_amplitude_send_spark")):
        print("perfbench: run from the repository root (fxa_amplitude_send_spark/ not found)", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_specs()
    sys.path[:0] = [HERE, ROOT]

    import importlib

    ctx = Ctx(args)
    ctx.isolate()
    workload = importlib.import_module(args.workload).Workload(ctx)
    try:
        workload.run()
    finally:
        ctx.teardown()
    peak_rss_mb = ctx.rss.stop()

    e2e = dict(workload.e2e, setup_s=ctx.setup_s)
    layers: dict = {}
    if ctx.traced:
        from tracing import EventLog

        layers = {name: 0.0 for name in layer_units}
        layers.update(workload.layers(EventLog(ctx.path("eventlog"))))
        build = ctx.tracer.named("session.build")[0]
        layers["session.build_s"] = build["end"] - build["start"]
        layers["bench.gen_s"] = ctx.gen_s
        layers["fail_share"] = workload.failed / workload.attempted
        layers["rss.peak_mb"] = peak_rss_mb
        for name in ("setup_s", "throughput_per_s", "latency_p50_s"):
            layers[f"trace.{name}"] = e2e[name]
        unknown = set(layers) - set(layer_units)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        ctx.tracer.write(
            os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"),
            {"per_layer": layers, "end_to_end": e2e},
        )
    shutil.rmtree(ctx.dir, ignore_errors=True)

    report = dict(
        workload.report,
        fail_share=workload.failed / workload.attempted,
        gen_s=ctx.gen_s,
        peak_rss_mb=peak_rss_mb,
    )
    print("report " + json.dumps({k: round(v, 4) if isinstance(v, float) else v for k, v in {**e2e, **report}.items()}))
    chosen, units = (layers, layer_units) if ctx.traced else (e2e, e2e_units)
    result = {
        "correct": workload.failed == 0,
        "attempted": int(workload.attempted),
        "failed": int(workload.failed),
        "metrics": {name: {"value": float(chosen[name]), "unit": units[name]} for name in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
