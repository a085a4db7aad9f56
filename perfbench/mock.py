"""Loopback mock of Amplitude's ``/batch`` endpoint (stdlib only).

It validates each body the way the real endpoint would reject it
(``api_key`` present, 1..max_events events), answers a fixed share of
first-time bodies with 503 so the sink's bounded retry runs, and counts
what arrives: posts, bytes, connections, retries, events and receipt times.

Every ``refuse_every``-th first-time body is refused, counting from an
offset chosen by the seed, so the number of 503s per job is fixed whatever
order the partitions post in. A refused body is accepted on its retry, so
the retry budget (MAX_RETRIES) is never exhausted.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

from gen import event_key


class Epoch:
    """What the mock received between two ``begin`` calls. Accepted bodies
    are kept as bytes and turned into event keys only by ``keys``, after
    the job, so the per-event check costs nothing inside the timed job."""

    def __init__(self):
        self.bodies: list[bytes] = []
        self.posts = 0
        self.events = 0
        self.bytes = 0
        self.refusals = 0  # 503 answers
        #: receipt time of every accepted post and its event count
        self.receipts: list[tuple[float, int]] = []

    def keys(self) -> Counter:
        return Counter(event_key(ev) for body in self.bodies for ev in json.loads(body)["events"])


class BatchMock:
    def __init__(self, api_key: str, max_events: int, seed: int, refuse_every: int, threads: int):
        self.api_key = api_key
        self.max_events = max_events
        self.refuse_every = refuse_every
        self.fresh = seed % refuse_every  # first-time bodies seen
        self.lock = threading.Lock()
        self.refused: set[bytes] = set()
        self.connections = 0
        self.bad_requests = 0
        self.epoch = Epoch()
        mock = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # keep-alive: one connection per partition
            timeout = 30

            def log_message(self, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                status = mock._receive(body)
                self.send_response(status)
                self.send_header("Content-Length", "0")
                self.end_headers()

        class Server(HTTPServer):
            def process_request(self, request, client_address):
                with mock.lock:
                    mock.connections += 1
                mock.pool.submit(self._serve, request, client_address)

            def _serve(self, request, client_address):
                try:
                    self.finish_request(request, client_address)
                except OSError:
                    pass
                finally:
                    self.shutdown_request(request)

        self.pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="mock")
        self.server = Server(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.port}/batch"

    def _refuse(self, body: bytes) -> bool:
        digest = hashlib.sha256(body).digest()
        with self.lock:
            if digest in self.refused:
                return False  # the retry of a refused body
            self.fresh += 1
            if self.fresh % self.refuse_every:
                return False
            self.refused.add(digest)
            self.epoch.refusals += 1
            return True

    def _receive(self, body: bytes) -> int:
        now = time.time()
        try:
            doc = json.loads(body)
            events = doc["events"]
            ok = doc.get("api_key") == self.api_key and 0 < len(events) <= self.max_events
        except (ValueError, KeyError, TypeError):
            ok = False
        if not ok:
            with self.lock:
                self.bad_requests += 1
            return 400
        if self._refuse(body):
            return 503
        with self.lock:
            ep = self.epoch
            ep.bodies.append(body)
            ep.posts += 1
            ep.events += len(events)
            ep.bytes += len(body)
            ep.receipts.append((now, len(events)))
        return 200

    def begin(self) -> Epoch:
        """Start counting into a fresh epoch; return the previous one.
        Refused bodies are forgotten too: every job posts the same bodies,
        and a retry never crosses a job boundary."""
        with self.lock:
            prev, self.epoch = self.epoch, Epoch()
            self.refused.clear()
        return prev

    def received(self) -> int:
        with self.lock:
            return self.epoch.events

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.pool.shutdown(wait=True)
        self.thread.join()


def check_delivery(expected: Counter, got: Counter) -> int:
    """Failed events: the larger of missing and unexpected deliveries, so
    one altered ``insert_id`` (one missing + one unexpected) counts once."""
    missing = sum((expected - got).values())
    extra = sum((got - expected).values())
    return max(missing, extra)
