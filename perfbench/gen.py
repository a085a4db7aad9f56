"""Seeded input generators for the benchmark.

Everything here is stdlib + numpy/pyarrow and never imports the engine, so
the expected outputs are computed independently of the code under test.

* ``PayloadGen`` writes FxA payload JSONL files for the ``payload_queue``
  source and keeps, per payload, the exact events the reference pipeline
  (utils.js:37-90) must emit for it: hashed ``user_id``, ``insert_id`` and
  the ``$identify`` fan-out, recomputed with stdlib ``hmac``.
* ``write_tables`` writes the ten parquet tables the registered queries
  read (TPC-H-like star schema plus events/documents/embeddings).
"""

from __future__ import annotations

import hashlib
import hmac
import json
import os
import random
import re

#: identify verbs routed to a ``$identify`` event (utils.js:105)
VERBS = ("$set", "$setOnce", "$add", "$append", "$unset")
EVENT_TYPES = ("fxa_login - complete", "fxa_reg - view", "fxa_pref - save", "fxa_activity - cert_signed")
BASE_MS = 1_700_000_000_000
USERS = 5000  # distinct user ids, so the user-id HMAC is cached across payloads


def hmac_hex(key: str, message: str) -> str:
    return hmac.new(key.encode("utf-8"), message.encode("utf-8"), hashlib.sha256).hexdigest()


def _js(value) -> str:
    """JS template coercion with the reference's falsy skip (utils.js:20)
    for the value kinds the generator emits: strings and integral numbers."""
    if value is None or value == "" or value == 0:
        return ""
    if isinstance(value, float):
        return str(int(value))
    return str(value)


def _repair_session(raw):
    """parseInt(x, 10) || -1 for strings, numbers untouched (utils.js:59-68)."""
    if raw is None or not isinstance(raw, str):
        return raw
    m = re.match(r"^\s*([+-]?\d+)", raw)
    return int(m.group(1)) if m else -1


#: what the checks compare, in this order, for every delivered event
KEY_FIELDS = (
    "device_id", "event_type", "user_id", "insert_id",
    "time", "session_id", "event_properties", "user_properties",
)


_sorted_json = json.JSONEncoder(sort_keys=True).encode  # one encoder, not one per call


def _canon(value):
    """Canonical text of a property value. The sink sends
    ``event_properties`` as JSON text and ``user_properties`` as a map of
    strings whose nested objects are JSON text; the generator holds dicts."""
    if isinstance(value, str):
        return _sorted_json(json.loads(value)) if value[:1] in "{[" else value
    return _sorted_json(value)


def event_key(ev: dict) -> tuple:
    """Identity of one delivered event: every field the generator sets, with
    numbers as floats and properties in canonical JSON."""
    time, session = ev.get("time"), ev.get("session_id")
    props, user_props = ev.get("event_properties"), ev.get("user_properties")
    return (
        ev.get("device_id"),
        ev.get("event_type"),
        ev.get("user_id"),
        ev.get("insert_id"),
        None if time is None else float(time),
        None if session is None else float(session),
        None if props is None else _canon(props),
        None if user_props is None else _sorted_json({k: _canon(v) for k, v in user_props.items()}),
    )


class PayloadGen:
    """Seeded FxA payloads covering every envelope the pipeline handles.

    The shares are assumptions, not FxA traffic figures (neither the
    reference nor the paper gives any): of fresh payloads 8% invalid
    (missing event_type, string or zero time, no ids, or truncated JSON),
    25% with an assigned identify verb, 5% without and 3% with an empty
    ``user_id``; 4% of lines are exact redeliveries of an earlier line.
    They only have to reach every branch and stay fixed. Envelopes
    rotate between ``Fields``-wrapped, ``Fields`` with stringified props,
    ``op``/``data`` stringified and bare events. Session ids are numbers,
    garbage strings (→ -1) or numeric-prefix strings (→ the prefix).
    """

    INVALID_SHARE = 0.08
    VERB_SHARE = 0.25
    DUP_SHARE = 0.04

    def __init__(self, seed: int, hmac_key: str):
        self.rng = random.Random(seed)
        self.seed = seed
        self.key = hmac_key
        self.n = 0  # fresh payloads made so far
        self.lines: list[str] = []  # fresh payload lines, for redelivery
        self.expected: list[list[tuple]] = []  # event keys per fresh payload
        self._hash_cache: dict[str, str] = {}

    # -- one payload ---------------------------------------------------------
    def _event(self) -> tuple[dict | None, list[tuple]]:
        rng, i = self.rng, self.n
        ms = BASE_MS + i * 37
        ev: dict = {
            "device_id": f"d{self.seed}-{i}",
            "user_id": f"u{rng.randrange(USERS)}",
            "event_type": rng.choice(EVENT_TYPES),
            "time": ms,
            "event_properties": {"n": i, "service": rng.choice(("sync", "pocket", "vpn"))},
            "user_properties": {"ua_browser": rng.choice(("Firefox", "Chrome"))},
        }
        r = rng.random()
        if r < 0.1:
            ev["session_id"] = rng.choice(("abc", "", "x9"))  # garbage → -1
        elif r < 0.2:
            ev["session_id"] = f"{rng.randrange(1, 10**6)}zz"  # numeric prefix
        elif r < 0.9:
            ev["session_id"] = ms - rng.randrange(1, 10**6)
        # else: no session_id
        r = rng.random()
        if r < 0.05:
            del ev["user_id"]  # device-only event
        elif r < 0.08:
            ev["user_id"] = ""  # falsy user id passes through unhashed
        if rng.random() < self.VERB_SHARE:
            verb = rng.choice(VERBS)
            ev["user_properties"][verb] = {"sync_device_count": rng.randrange(1, 9)}
        if rng.random() < self.INVALID_SHARE:
            kind = rng.randrange(5)
            if kind == 4:
                return None, []  # truncated JSON line
            if kind == 0:
                del ev["event_type"]
            elif kind == 1:
                ev["time"] = str(ms)  # time must be a JSON number
            elif kind == 2:
                ev["time"] = 0
            else:
                ev.pop("user_id", None)
                del ev["device_id"]
            return ev, []
        return ev, self._expected(ev)

    def _hash_user(self, user: str) -> str:
        h = self._hash_cache.get(user)
        if h is None:
            h = self._hash_cache[user] = hmac_hex(self.key, user)
        return h

    def _expected(self, ev: dict) -> list[tuple]:
        """The events the sink must deliver for ``ev``, as ``event_key``s:
        ``$identify`` first with only the verb entries, then the event
        without them (utils.js:76-84)."""
        user = ev.get("user_id")
        hashed = self._hash_user(user) if user else user
        session = _repair_session(ev.get("session_id"))
        insert_id = hmac_hex(
            self.key,
            _js(hashed) + _js(ev.get("device_id")) + _js(session) + ev["event_type"] + _js(ev["time"]),
        )
        props = ev["user_properties"]
        verbs = {k: v for k, v in props.items() if k in VERBS}
        out = []
        if verbs:
            identify = {"device_id": ev.get("device_id"), "event_type": "$identify", "user_id": hashed}
            out.append(event_key(dict(identify, user_properties=verbs)))
            props = {k: v for k, v in props.items() if k not in VERBS}
        out.append(event_key({
            "device_id": ev.get("device_id"),
            "event_type": ev["event_type"],
            "user_id": hashed,
            "insert_id": insert_id,
            "time": ev["time"],
            "session_id": session,
            "event_properties": ev["event_properties"],
            "user_properties": props,
        }))
        return out

    def _envelope(self, ev: dict) -> str:
        style = self.n % 4
        if style == 0:
            return json.dumps({"Fields": ev})
        if style == 1:
            wrapped = dict(ev)
            wrapped["event_properties"] = json.dumps(ev["event_properties"])
            wrapped["user_properties"] = json.dumps(ev["user_properties"])
            return json.dumps({"Fields": wrapped})
        if style == 2:
            return json.dumps({"Fields": {"op": "amplitudeEvent", "data": json.dumps(ev)}})
        return json.dumps(ev)

    def make(self, count: int) -> tuple[list[str], list[tuple]]:
        """``count`` payload lines and the event keys they must produce."""
        lines, keys = [], []
        for _ in range(count):
            if self.lines and self.rng.random() < self.DUP_SHARE:
                j = self.rng.randrange(len(self.lines))  # at-least-once redelivery
                lines.append(self.lines[j])
                keys.extend(self.expected[j])
                continue
            ev, expected = self._event()
            line = self._envelope(ev) if ev is not None else '{"Fields": {"device_id": "cut'
            self.n += 1
            self.lines.append(line)
            self.expected.append(expected)
            lines.append(line)
            keys.extend(expected)
        return lines, keys


def write_atomic(directory: str, name: str, lines: list[str]) -> str:
    """Write a queue file via a hidden temp file and rename, so a listing
    never sees a half-written file (the source skips dot-files)."""
    final = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, final)
    return final


def write_backlog(gen: PayloadGen, directory: str, payloads: int, files: int) -> list[tuple]:
    os.makedirs(directory, exist_ok=True)
    per = payloads // files
    keys: list[tuple] = []
    for f in range(files):
        lines, k = gen.make(per)
        write_atomic(directory, f"backlog-{f:05d}.jsonl", lines)
        keys.extend(k)
    return keys


# ---------------------------------------------------------------------------
# parquet tables
# ---------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = (
    "a the data table query scan join agg group sort hash key value row column line "
    "order part customer stream batch window merge filter spark fast slow big small vector"
).split()


def write_tables(directory: str, seed: int, scale: float = 0.01) -> None:
    """TPC-H-like tables at ``scale`` (1500 customers and 60k lineitems at
    0.01) plus events/documents/embeddings, all from one numpy seed.
    Money columns sit on the cent grid so float sums agree across engines."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev, n_doc = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale), 500

    def ts(start: str, days: int, size: int, seconds: bool = False):
        base = np.datetime64(start, "us")
        step = rng.integers(0, days * 86_400_000_000 if seconds else days, size)
        unit = step if seconds else step * 86_400_000_000
        return pa.array(base + unit.astype("timedelta64[us]"), pa.timestamp("us"))

    def cents(lo: float, hi: float, size: int):
        return np.round(rng.uniform(lo, hi, size), 2)

    def put(name: str, cols: dict):
        pq.write_table(pa.table(cols), os.path.join(directory, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": cents(-999.99, 9999.99, n_cust),
                     "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    put("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": cents(-999.99, 9999.99, n_supp)})
    colors, things = ("red", "blue", "green", "small", "large"), ("ring", "widget", "bolt", "anvil")
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    put("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{colors[a]} {things[b]}" for a, b in zip(rng.integers(0, 5, n_part), rng.integers(0, 4, n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": [("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")[i] for i in rng.integers(0, 6, n_part)],
                 "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": retail})
    put("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
                   "o_totalprice": cents(1000, 500_000, n_ord),
                   "o_orderdate": ts("1995-01-01", 2400, n_ord),
                   "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_line),
                     "l_partkey": partkey,
                     "l_suppkey": rng.integers(0, n_supp, n_line),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * retail[partkey], 2),
                     "l_discount": rng.integers(0, 11, n_line) / 100,
                     "l_tax": rng.integers(0, 9, n_line) / 100,
                     "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
                     "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
                     "l_shipdate": ts("1995-01-02", 2500, n_line)})
    put("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": ts("2024-01-01", 30, n_ev, seconds=True),
                   "user_id": rng.integers(0, 150, n_ev),
                   "event_type": [("click", "signup", "error", "view", "purchase")[i] for i in rng.integers(0, 5, n_ev)],
                   "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
                   "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(10, 90))) for _ in range(n_doc)]
    put("documents", {"doc_id": np.arange(n_doc, dtype=np.int64),
                      "text": texts,
                      "lang": [("en", "de", "es", "fr", "zh")[i] for i in rng.integers(0, 5, n_doc)],
                      "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(0, 0.12, (n_doc, 64)).astype(np.float32)
    put("embeddings", {"vec_id": np.arange(n_doc, dtype=np.int64),
                       "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())})
