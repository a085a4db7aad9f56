"""Tests of the benchmark's own output checks (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import http.client
import json
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from gen import KEY_FIELDS, PayloadGen, event_key, write_tables  # noqa: E402
from mock import BatchMock, check_delivery  # noqa: E402

KEY = "test-hmac-key"


def _events(keys):
    """The bodies' events for ``keys``, shaped as the sink sends them."""
    events = []
    for k in keys:
        ev = {f: v for f, v in zip(KEY_FIELDS, k) if v is not None}
        if "user_properties" in ev:
            ev["user_properties"] = json.loads(ev["user_properties"])
        events.append(ev)
    return events


def _deliver(mock, events) -> Counter:
    for i in range(0, len(events), 50):
        assert _post(mock, {"api_key": "k", "events": events[i : i + 50]}) == 200
    return mock.begin().keys()


def _post(mock, body: dict) -> int:
    conn = http.client.HTTPConnection("127.0.0.1", mock.port, timeout=5)
    try:
        conn.request("POST", "/batch", body=json.dumps(body).encode(), headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


@pytest.fixture
def mock():
    m = BatchMock("k", max_events=50, seed=7, refuse_every=10**6, threads=2)  # no test posts that many
    yield m
    m.stop()


def test_generator_is_seeded():
    a, b, c = PayloadGen(1, KEY), PayloadGen(1, KEY), PayloadGen(2, KEY)
    assert a.make(300) == b.make(300)
    assert a.make(50)[0] != c.make(50)[0]


def test_exact_delivery_passes_and_altered_insert_id_fails(mock):
    _, keys = PayloadGen(3, KEY).make(200)
    expected = Counter(keys)
    events = _events(keys)
    mock.begin()
    assert check_delivery(expected, _deliver(mock, events)) == 0

    corrupted = [dict(e) for e in events]
    victim = next(e for e in corrupted if "insert_id" in e)
    victim["insert_id"] = victim["insert_id"][:-1] + ("0" if victim["insert_id"][-1] != "0" else "1")
    assert check_delivery(expected, _deliver(mock, corrupted)) == 1


@pytest.mark.parametrize(
    "alter",
    [
        lambda ev: ev.update(time=ev["time"] + 1),
        lambda ev: ev.update(session_id=-1.0 if ev.get("session_id") != -1.0 else 0.0),
        lambda ev: ev.update(event_properties=ev["event_properties"].replace('"n": ', '"n": 1')),
        lambda ev: ev["user_properties"].update(ua_browser="Safari"),
    ],
    ids=["time", "session_id", "event_properties", "user_properties"],
)
def test_one_altered_property_fails(mock, alter):
    _, keys = PayloadGen(3, KEY).make(200)
    events = _events(keys)
    victim = next(e for e in events if "insert_id" in e and "ua_browser" in e.get("user_properties", {}))
    alter(victim)
    mock.begin()
    assert check_delivery(Counter(keys), _deliver(mock, events)) == 1


def test_altered_identify_verbs_fail(mock):
    _, keys = PayloadGen(3, KEY).make(200)
    events = _events(keys)
    victim = next(e for e in events if e["event_type"] == "$identify")
    (verb,) = victim["user_properties"]
    victim["user_properties"] = {verb: json.dumps({"sync_device_count": 99})}
    mock.begin()
    assert check_delivery(Counter(keys), _deliver(mock, events)) == 1


def test_sent_json_text_matches_generated_dicts():
    """The sink sends properties as JSON text, in Spark's compact layout;
    the generator holds dicts. Both must give the same key."""
    sent = {"event_properties": '{"n":1,"service":"vpn"}', "user_properties": {"$set": '{"a":1}', "b": "x"}}
    made = {"event_properties": {"service": "vpn", "n": 1}, "user_properties": {"b": "x", "$set": {"a": 1}}}
    assert event_key(sent) == event_key(made)


def test_missing_and_duplicated_events_fail():
    _, keys = PayloadGen(4, KEY).make(100)
    expected = Counter(keys)
    assert check_delivery(expected, Counter(keys[1:])) == 1
    assert check_delivery(expected, Counter(keys + keys[:3])) == 3


def test_mock_rejects_bad_bodies(mock):
    assert _post(mock, {"events": [{"event_type": "x"}]}) == 400  # no api_key
    assert _post(mock, {"api_key": "k", "events": [{}] * 51}) == 400  # over the cap
    assert _post(mock, {"api_key": "k", "events": []}) == 400
    assert mock.bad_requests == 3


def test_one_body_in_n_is_refused_once():
    m = BatchMock("k", max_events=50, seed=7, refuse_every=4, threads=1)
    try:
        statuses = []
        for i in range(12):
            body = {"api_key": "k", "events": [{"event_type": f"e{i}"}]}
            status = _post(m, body)
            statuses.append(status)
            if status == 503:
                assert _post(m, body) == 200  # the retry is accepted
        assert statuses.count(503) == 3
        assert m.epoch.refusals == 3 and m.epoch.events == 12 and m.epoch.posts == 12
        m.begin()  # the next job posts the same bodies: one in four is refused again
        statuses = [_post(m, {"api_key": "k", "events": [{"event_type": f"e{i}"}]}) for i in range(4)]
        assert statuses.count(503) == 1
    finally:
        m.stop()


def test_oracle_check_catches_a_wrong_query_result(tmp_path):
    """The query_mix correctness pass goes through tests/oracle_compare;
    a result with one altered value must be reported, the true one not."""
    from fxa_amplitude_send_spark.plans import all_oracles
    from tests.oracle_compare import compare, duck_connection

    sf = str(tmp_path)
    write_tables(sf, seed=5, scale=0.001)
    sql = all_oracles()["q_agg_group"]
    con = duck_connection(sf)
    truth = con.execute(sql).fetchdf()
    con.close()

    class Result:  # stands in for a Spark DataFrame: compare() only calls toPandas()
        def __init__(self, df):
            self.df = df

        def toPandas(self):
            return self.df

    assert compare(Result(truth), sql, sf) == []
    wrong = truth.copy()
    wrong.loc[0, "count_order"] += 1
    assert compare(Result(wrong), sql, sf)
