"""Export protocol tests: a real socket client against the threaded server."""

from __future__ import annotations

import socket
import threading
import time

import pytest

from nntsc_spark.export.frequency import estimate_frequency_rows
from nntsc_spark.export.protocol import (
    CLIENTAPI_VERSION,
    Msg,
    Req,
    pack,
    read_message,
)
from nntsc_spark.export.server import ExportServer


@pytest.fixture(scope="module")
def server(spark):
    fact = spark.createDataFrame(
        [(1, 100 + 10 * i, float(i)) for i in range(30)]
        + [(2, 100 + 30 * i, 100.0 + i) for i in range(10)],
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(1, "src", "dst1"), (2, "src", "dst2")],
        "stream_id long, source string, destination string",
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    yield srv
    srv.stop()


def _connect(server) -> socket.socket:
    s = socket.create_connection(("127.0.0.1", server.port), timeout=60)
    # every connection opens with the version handshake (exporter.py:1152);
    # consume it here so each test reads only its own responses
    mtype, body = read_message(s)
    assert mtype == Msg.VERSION_CHECK and body == CLIENTAPI_VERSION
    return s


def _drain_until(sock, mtype, limit=50):
    got = []
    for _ in range(limit):
        m = read_message(sock)
        assert m is not None, "connection closed early"
        got.append(m)
        if m[0] == mtype:
            return got
    raise AssertionError(f"never saw {mtype}; got {[g[0] for g in got]}")


def test_collections_and_schemas(server):
    s = _connect(server)
    s.sendall(pack(Msg.REQUEST, {"request": int(Req.COLLECTIONS)}))
    mtype, body = read_message(s)
    assert mtype == Msg.COLLECTIONS and len(body) == 14
    s.sendall(
        pack(Msg.REQUEST, {"request": int(Req.SCHEMAS), "collection": "amp-icmp"})
    )
    mtype, body = read_message(s)
    assert mtype == Msg.SCHEMAS
    assert "median" in body["datacols"] and "stream_id" in body["streamcols"]
    s.close()


def test_streams_request_incremental(server):
    s = _connect(server)
    s.sendall(
        pack(
            Msg.REQUEST,
            {"request": int(Req.STREAMS), "collection": "amp-icmp", "minid": 1},
        )
    )
    mtype, body = read_message(s)
    assert mtype == Msg.STREAMS
    assert [r["stream_id"] for r in body["streams"]] == [2]
    assert body["more"] is False
    s.close()


def test_aggregate_roundtrip(server):
    s = _connect(server)
    s.sendall(
        pack(
            Msg.AGGREGATE,
            {
                "collection": "amp-icmp",
                "labels": {"L1": [1], "L2": [2]},
                "aggcols": [("value", "avg"), ("value", "count")],
                "start": 0,
                "stop": 1000,
                "binsize": 100,
            },
        )
    )
    msgs = _drain_until(s, Msg.HISTORY_DONE)
    history = [b for t, b in msgs if t == Msg.HISTORY]
    assert history and all("freq" in h for h in history)
    l1 = [h for h in history if h["label"] == "L1"]
    # frequency is estimated over DELIVERED rows (reference semantics:
    # exporter estimates on result history, so binned queries report the
    # bin cadence, here binsize=100)
    assert l1 and l1[0]["freq"] == 100
    rows = [r for h in l1 for r in h["history"]]
    assert all("value_avg" in r and "binstart" in r for r in rows)
    s.close()


def test_subscribe_history_live_seam(server):
    s = _connect(server)
    s.sendall(
        pack(
            Msg.SUBSCRIBE,
            {
                "collection": "amp-icmp",
                "labels": {"mine": [1]},
                "columns": ["value"],
                "start": 1,
                "stop": 10_000,
            },
        )
    )
    msgs = _drain_until(s, Msg.HISTORY_DONE, limit=100)
    done = [b for t, b in msgs if t == Msg.HISTORY_DONE][0]
    assert done["last_ts"] == 100 + 29 * 10

    # live rows: one duplicate of history (dropped at seam... here it's past
    # history so it flows), one below start bound (filtered), one good
    server.publish_live(
        "amp-icmp",
        1,
        [
            {"timestamp": 50_000, "value": 9.9, "stream_id": 1,
             "nntsclabel": "mine", "junkcol": 1},
        ],
    )
    server.push_marker("amp-icmp", 50_000)
    mtype, body = read_message(s)
    assert mtype == Msg.LIVE
    assert body["result"]["value"] == 9.9
    assert "junkcol" not in body["result"]  # P6 column filter
    mtype, body = read_message(s)
    assert mtype == Msg.PUSH and body["timestamp"] == 50_000

    # rows for unsubscribed streams never arrive
    server.publish_live("amp-icmp", 2, [{"timestamp": 60_000, "value": 1.0}])
    server.push_marker("amp-icmp", 60_000)
    mtype, body = read_message(s)
    assert mtype == Msg.PUSH  # straight to the next marker, no LIVE
    s.close()


def test_seam_drain_preserves_per_stream_order(spark, monkeypatch):
    """r5 advice regression: rows published WHILE the buffered backlog is
    draining must queue behind it, never overtake it.  The old shape
    flipped waiting=False before draining, so a fresh publish raced ahead
    of older buffered rows.  A slowed _send_live opens the race window
    deterministically."""
    import time as _time

    import nntsc_spark.export.server as srv_mod

    fact = spark.createDataFrame(
        [(1, 100 + i, float(i)) for i in range(5)],
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    real_send_live = srv_mod.ExportServer._send_live

    def slow_send_live(self, sub, sid, row):
        _time.sleep(0.05)  # hold the drain loop open
        real_send_live(self, sub, sid, row)

    monkeypatch.setattr(srv_mod.ExportServer, "_send_live", slow_send_live)
    srv.start()
    try:
        s = _connect(srv)
        # buffer rows DURING history: subscribe registers before the
        # history query runs, so publish a backlog right away
        s.sendall(
            pack(
                Msg.SUBSCRIBE,
                {"collection": "amp-icmp", "labels": {"L": [1]},
                 "start": 1, "stop": 10_000},
            )
        )
        # wait until the subscription is registered and waiting
        for _ in range(200):
            with srv._lock:
                if srv._subs:
                    break
            _time.sleep(0.01)
        backlog = [
            {"timestamp": 20_000 + i, "value": float(i), "stream_id": 1,
             "nntsclabel": "L"}
            for i in range(10)
        ]
        srv.publish_live("amp-icmp", 1, backlog)
        # drain history; then, while the slowed backlog drain is running,
        # publish newer rows — they must come out AFTER the backlog
        _drain_until(s, Msg.HISTORY_DONE, limit=50)
        late = [
            {"timestamp": 30_000 + i, "value": 100.0 + i, "stream_id": 1,
             "nntsclabel": "L"}
            for i in range(3)
        ]
        srv.publish_live("amp-icmp", 1, late)
        got = []
        while len(got) < 13:
            m = read_message(s)
            assert m is not None
            if m[0] == Msg.LIVE:
                got.append(m[1]["result"]["timestamp"])
        assert got == sorted(got), got  # per-stream order preserved
        assert got[:10] == [20_000 + i for i in range(10)]
        s.close()
    finally:
        srv.stop()


def test_torn_frames_do_not_wedge_the_server(server):
    """Hostile/crashed clients mid-frame: a partial header, and a header
    promising more payload than ever arrives, must both end with a clean
    worker exit — later connections are still served."""
    import struct

    from nntsc_spark.export.protocol import HDR_FMT

    # partial header, then disconnect
    s1 = _connect(server)
    s1.sendall(b"\x01\x02")  # 2 of the header's bytes
    s1.close()
    # full header declaring 1000 payload bytes, only 10 sent, disconnect
    s2 = _connect(server)
    s2.sendall(struct.pack(HDR_FMT, 1, 1000) + b"x" * 10)
    s2.close()
    # the server still answers a well-formed request on a new connection
    s3 = _connect(server)
    s3.sendall(pack(Msg.REQUEST, {"request": int(Req.COLLECTIONS)}))
    mtype, body = read_message(s3)
    assert mtype == Msg.COLLECTIONS and body
    s3.close()


def test_error_reply_keeps_connection(server):
    s = _connect(server)
    s.sendall(pack(Msg.AGGREGATE, {"collection": "nope", "labels": {}}))
    mtype, body = read_message(s)
    assert mtype == Msg.ERROR and "nope" in body["error"]
    # connection still usable
    s.sendall(pack(Msg.REQUEST, {"request": int(Req.COLLECTIONS)}))
    mtype, _ = read_message(s)
    assert mtype == Msg.COLLECTIONS
    s.close()


def test_frequency_rule_chain_reference_semantics():
    # strict cadence -> mode majority
    assert estimate_frequency_rows([0, 10, 20, 30]) == 10
    # binsize override when >90% of diffs equal it
    assert estimate_frequency_rows(list(range(0, 1000, 60)), binsize=60) == 60
    # no majority, smallest >=20% share wins
    ts, t = [0], 0
    for d in [10] * 3 + [20] * 3 + [30] * 4:
        t += d
        ts.append(t)
    assert estimate_frequency_rows(ts) == 10
    # empty -> default
    assert estimate_frequency_rows([]) == 300
    assert estimate_frequency_rows([5]) == 300


def test_live_export_via_ingest_hook(spark, tmp_path, server):
    """T1-T3 end-to-end: subscribe, then ingest a batch wired to the
    exporter — subscribers get LIVE rows then the PUSH watermark."""
    import socket as _socket

    from nntsc_spark.ingest.amp_icmp import UNIQUE_COLS, process_icmp
    from nntsc_spark.streaming.ingest import CollectionIngestor

    s = _connect(server)
    s.sendall(
        pack(
            Msg.SUBSCRIBE,
            {
                "collection": "amp-icmp",
                "labels": {"L": [1]},
                "columns": ["value"],
                "start": 1,
                "stop": 10**9,
            },
        )
    )
    _drain_until(s, Msg.HISTORY_DONE, limit=100)

    ing = CollectionIngestor(
        spark,
        process_icmp,
        UNIQUE_COLS,
        fact_path=str(tmp_path / "fact"),
        streams_path=str(tmp_path / "streams"),
        collection="amp-icmp",
        exporter=server,
    )
    raw = spark.createDataFrame(
        [("src", 5_000_000, 1234, 0, False, "dst1", "1.2.3.4", 84)],
        "source string, timestamp long, rtt long, loss long, random boolean, "
        "target string, address string, packet_size long",
    )
    ing.process_batch(raw)

    mtype, body = read_message(s)
    assert mtype == Msg.LIVE
    assert body["result"]["timestamp"] == 5_000_000
    mtype, body = read_message(s)
    assert mtype == Msg.PUSH and body["timestamp"] == 5_000_000
    s.close()


def test_matrix_roundtrip(server):
    s = _connect(server)
    s.sendall(
        pack(
            Msg.MATRIX,
            {
                "collection": "amp-icmp",
                "labels": {"L1": [1], "L2": [2]},
                "value_cols": ["value"],
                "start": 0,
                "stop": 7200,
            },
        )
    )
    matrix = []
    while True:
        mtype, body = read_message(s)
        assert mtype == Msg.HISTORY and "matrix" in body
        matrix.extend(body["matrix"])
        if body["more"] is False:
            break
    rows = {r["nntsclabel"]: r for r in matrix}
    assert rows["L1"]["count_value"] == 30 and rows["L2"]["count_value"] == 10
    assert rows["L1"]["avg_value"] == pytest.approx(sum(range(30)) / 30)
    s.close()


def test_golden_session_replay(spark):
    """r6 verdict task: the committed golden byte-stream session
    (REQUEST->SCHEMAS->STREAMS->SUBSCRIBE->HISTORY->HISTORY_DONE->LIVE->
    PUSH->MATRIX) replayed against a live server must decode to exactly
    the recorded message sequence — framing pinned end-to-end the way
    the DuckDB oracle pins queries.  Regenerate deliberately with
    `python -m tests.golden_session` after an intentional wire change."""
    import json

    from tests.golden_session import FIXTURE, build_server, run_session

    expected = json.loads(FIXTURE.read_text())
    srv = build_server(spark)
    srv.start()
    try:
        got = run_session(srv)
    finally:
        srv.stop()
    assert len(got) == len(expected), (
        f"message count drifted: {len(got)} != {len(expected)}"
    )
    for i, (g, e) in enumerate(zip(got, expected)):
        assert g == e, f"message {i} diverged:\n got: {g}\n exp: {e}"


def test_matrix_framing_bounded_by_flush_size(spark, monkeypatch):
    """r6 verdict task: the matrix path must frame through toLocalIterator
    in flush-sized blocks — no driver-side list of the full result.  With
    the flush size forced to 4, a 30-label matrix must arrive as multiple
    HISTORY frames, each carrying at most 4 rows, terminated by
    more=False."""
    import nntsc_spark.export.server as srv_mod

    n_labels = 30
    fact = spark.createDataFrame(
        [(i, 100 + j, float(i * j)) for i in range(n_labels) for j in range(3)],
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(i, "s", f"d{i}") for i in range(n_labels)],
        "stream_id long, source string, destination string",
    )
    monkeypatch.setattr(srv_mod, "HISTORY_FLUSH_ROWS", 4)
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.MATRIX,
                {
                    "collection": "amp-icmp",
                    "labels": {f"L{i}": [i] for i in range(n_labels)},
                    "value_cols": ["value"],
                    "start": 0,
                    "stop": 7200,
                },
            )
        )
        frames, matrix = [], []
        while True:
            mtype, body = read_message(s)
            assert mtype == Msg.HISTORY
            frames.append(len(body["matrix"]))
            matrix.extend(body["matrix"])
            if body["more"] is False:
                break
        assert len(matrix) == n_labels
        assert len(frames) >= n_labels // 4  # genuinely multi-frame
        assert all(n <= 4 for n in frames)  # bounded blocks
        s.close()
    finally:
        srv.stop()


def test_matrix_served_from_stored_rollup(spark):
    """The production matrix path reads ONLY the stored rollup table: serve
    from a server whose fact is empty, so any fact scan would return an
    empty matrix."""
    from nntsc_spark.operators.rollup import build_rollup

    fact = spark.createDataFrame(
        [(1, 100 + 10 * i, float(i)) for i in range(30)]
        + [(2, 100 + 30 * i, 100.0 + i) for i in range(10)],
        "stream_id long, timestamp long, value double",
    )
    empty = fact.limit(0)
    streams = spark.createDataFrame(
        [(1, "src", "d1"), (2, "src", "d2")],
        "stream_id long, source string, destination string",
    )
    srv = ExportServer(
        spark,
        {
            "amp-icmp": {
                "fact": empty,
                "streams": streams,
                "rollups": {3600: build_rollup(fact, 3600, ["value"])},
            }
        },
    )
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.MATRIX,
                {
                    "collection": "amp-icmp",
                    "labels": {"L1": [1], "L2": [2]},
                    "value_cols": ["value"],
                    "start": 0,
                    "stop": 7200,
                },
            )
        )
        matrix = []
        while True:
            mtype, body = read_message(s)
            assert mtype == Msg.HISTORY
            matrix.extend(body["matrix"])
            if body["more"] is False:
                break
        rows = {r["nntsclabel"]: r for r in matrix}
        # identical to the inline-path expectations in test_matrix_roundtrip
        assert rows["L1"]["count_value"] == 30 and rows["L2"]["count_value"] == 10
        assert rows["L1"]["avg_value"] == pytest.approx(sum(range(30)) / 30)
        s.close()
    finally:
        srv.stop()


def test_subscribe_with_aggregation(server):
    """exporter.py:335-345: a SUBSCRIBE carrying aggs gets aggregated
    history (binsize=1) and still receives the live tail."""
    s = _connect(server)
    s.sendall(
        pack(
            Msg.SUBSCRIBE,
            {
                "collection": "amp-icmp",
                "labels": {"agged": [1]},
                "columns": ["value"],
                "aggs": ["avg"],
                "start": 1,
                "stop": 10_000,
            },
        )
    )
    msgs = _drain_until(s, Msg.HISTORY_DONE, limit=100)
    rows = [r for t, b in msgs if t == Msg.HISTORY for r in b["history"]]
    assert len(rows) == 30
    assert all("binstart" in r and "value" in r for r in rows)
    assert rows[0]["value"] == pytest.approx(0.0)  # avg of a 1-row bin
    # live tail still flows raw
    server.publish_live(
        "amp-icmp",
        1,
        [{"timestamp": 70_000, "value": 3.5, "stream_id": 1,
          "nntsclabel": "agged"}],
    )
    mtype, body = read_message(s)
    assert mtype == Msg.LIVE and body["result"]["value"] == 3.5
    s.close()


def test_merge_aggregators_forms():
    from nntsc_spark.export.server import merge_aggregators

    assert merge_aggregators(["a", "b"], "avg") == [("a", "avg"), ("b", "avg")]
    assert merge_aggregators(["a", "b"], ["max"]) == [("a", "max"), ("b", "max")]
    assert merge_aggregators(["a", "b"], ["max", "min"]) == [
        ("a", "max"),
        ("b", "min"),
    ]


def test_release_live_no_history_forwards_ts0_rows(spark, monkeypatch):
    """r6 advice regression: on the no-history path there is no seam bound
    recorded, so the drain must forward EVERY buffered row — including
    timestamp 0/None, which a defaulted 0 threshold silently dropped.
    A recorded bound still dedups at-or-before-seam rows."""
    import nntsc_spark.export.server as srv_mod

    fact = spark.createDataFrame(
        [(1, 100, 1.0)], "stream_id long, timestamp long, value double"
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    sent = []
    monkeypatch.setattr(
        srv_mod.ExportServer,
        "_send_live",
        lambda self, sub, sid, row: sent.append((sid, row.get("timestamp"))),
    )
    sub = srv_mod.Subscription(
        sock=None, colname="amp-icmp", stream_ids={1}, columns=None,
        start=None, end=None,
    )
    sub.buffered = [
        (0, 1, {"timestamp": 0, "value": 1.0}),
        (0, 1, {"timestamp": None, "value": 2.0}),
        (0, 1, {"timestamp": 50, "value": 3.0}),
    ]
    srv._release_live(sub)  # no bounds recorded -> all three forward
    assert sent == [(1, 0), (1, None), (1, 50)]
    assert sub.waiting is False

    sent.clear()
    sub2 = srv_mod.Subscription(
        sock=None, colname="amp-icmp", stream_ids={1}, columns=None,
        start=None, end=None,
    )
    sub2.last_by_stream[1] = 50  # history shipped up to ts=50
    sub2.buffered = [
        (0, 1, {"timestamp": 0, "value": 1.0}),   # at/below seam: dropped
        (0, 1, {"timestamp": 50, "value": 3.0}),  # duplicate of history
        (0, 1, {"timestamp": 51, "value": 4.0}),  # past seam: forwarded
    ]
    srv._release_live(sub2)
    assert sent == [(1, 51)]


def test_subscribe_start_zero_is_live_only(server):
    """exporter.py:284-293: start=0 normalizes to 'now' -> empty history,
    but the live subscription is active immediately."""
    s = _connect(server)
    s.sendall(
        pack(
            Msg.SUBSCRIBE,
            {
                "collection": "amp-icmp",
                "labels": {"lo": [2]},
                "columns": ["value"],
                "start": 0,
                "stop": 0,
            },
        )
    )
    mtype, body = read_message(s)
    assert mtype == Msg.HISTORY and body["history"] == [] and body["more"] is False
    mtype, body = read_message(s)
    assert mtype == Msg.HISTORY_DONE
    server.publish_live(
        "amp-icmp",
        2,
        [{"timestamp": 80_000, "value": 7.5, "stream_id": 2, "nntsclabel": "lo"}],
    )
    mtype, body = read_message(s)
    assert mtype == Msg.LIVE and body["result"]["value"] == 7.5
    s.close()


def test_aggregate_future_start_empty_history(server):
    """exporter.py:182-189: start >= now (or None) -> empty HISTORY +
    HISTORY_DONE per label, no query."""
    s = _connect(server)
    s.sendall(
        pack(
            Msg.AGGREGATE,
            {
                "collection": "amp-icmp",
                "labels": {"A": [1], "B": [2]},
                "aggcols": [("value", "avg")],
                "start": 2**33,
                "stop": 2**33 + 100,
                "binsize": 60,
            },
        )
    )
    seen = []
    for _ in range(4):
        mtype, body = read_message(s)
        seen.append((mtype, body))
    hist = [b for t, b in seen if t == Msg.HISTORY]
    done = [b for t, b in seen if t == Msg.HISTORY_DONE]
    assert len(hist) == 2 and all(h["history"] == [] for h in hist)
    assert {d["label"] for d in done} == {"A", "B"}
    s.close()


def test_query_timeout_sends_cancelled(spark):
    """Reference -T/--querytimeout semantics (exporter.py:362-378): a
    history query exceeding the timeout yields QUERY_CANCELLED (so the
    client knows it's a timeout, not missing data) then HISTORY_DONE with
    last_ts=0 per label — and the server stays usable."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.udf(DoubleType())
    def slow(v):
        time.sleep(0.5)
        return v

    fact = spark.createDataFrame(
        [(1, 100 + i, float(i)) for i in range(64)],
        "stream_id long, timestamp long, value double",
    ).withColumn("value", slow("value"))
    streams = spark.createDataFrame(
        [(1, "src", "dst1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(
        spark,
        {"amp-icmp": {"fact": fact, "streams": streams}},
        query_timeout=2,
    )
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.AGGREGATE,
                {
                    "collection": "amp-icmp",
                    "labels": {"A": [1]},
                    "aggcols": [("value", "avg")],
                    "start": 100,
                    "stop": 200,
                    "binsize": 10,
                },
            )
        )
        got = _drain_until(s, Msg.QUERY_CANCELLED)
        assert got[-1][1]["collection"] == "amp-icmp"
        mtype, body = read_message(s)
        assert mtype == Msg.HISTORY_DONE and body["last_ts"] == 0
        s.close()
    finally:
        srv.stop()


def test_two_workers_slow_query_does_not_block_fast_one(spark):
    """Reference MAX_WORKERS=2 (exporter.py:103): a client's slow history
    query must not serialize its next request — the fast query's responses
    arrive while the slow one is still running."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.udf(DoubleType())
    def slow(v):
        time.sleep(0.3)
        return v

    # single partition: the slow query's one task sleeps ~3.6s serially,
    # a wide margin over the fast query's sub-second JVM-only aggregate
    slow_fact = (
        spark.createDataFrame(
            [(1, 100 + i, float(i)) for i in range(12)],
            "stream_id long, timestamp long, value double",
        )
        .repartition(1)
        .withColumn("value", slow("value"))
    )
    fast_fact = spark.createDataFrame(
        [(2, 100 + i, float(i)) for i in range(5)],
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1"), (2, "src", "d2")],
        "stream_id long, source string, destination string",
    )
    srv = ExportServer(
        spark,
        {
            "slowcol": {"fact": slow_fact, "streams": streams},
            "fastcol": {"fact": fast_fact, "streams": streams},
        },
    )
    srv.start()
    try:
        s = _connect(srv)
        for col, sid, label in (("slowcol", 1, "S"), ("fastcol", 2, "F")):
            s.sendall(
                pack(
                    Msg.AGGREGATE,
                    {
                        "collection": col,
                        "labels": {label: [sid]},
                        "aggcols": [("value", "avg")],
                        "start": 100,
                        "stop": 200,
                        "binsize": 300,
                    },
                )
            )
        # read until BOTH are done; record completion order
        done = []
        for _ in range(200):
            mtype, body = read_message(s)
            if mtype == Msg.HISTORY_DONE:
                done.append(body["label"])
                if len(done) == 2:
                    break
        assert set(done) == {"S", "F"}
        assert done[0] == "F"  # fast query finished while slow one ran
        s.close()
    finally:
        srv.stop()


def test_stalled_client_dropped_others_unaffected(spark, monkeypatch):
    """Reference live-queue semantics (exporter.py:1449-1460): a client
    that stops reading fills its bounded queue and is DROPPED; other
    clients keep working — no cross-client blocking."""
    import nntsc_spark.export.server as srv_mod

    monkeypatch.setattr(srv_mod, "LIVE_QUEUE_CAP", 4)
    monkeypatch.setattr(srv_mod, "SEND_TIMEOUT", 0.2)

    fact = spark.createDataFrame(
        [(1, 100, 1.0)], "stream_id long, timestamp long, value double"
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        stalled = _connect(srv)
        stalled.sendall(
            pack(
                Msg.SUBSCRIBE,
                {"collection": "amp-icmp", "labels": {"A": [1]}, "start": 0},
            )
        )
        # wait until its live-only subscription is registered
        for _ in range(100):
            with srv._lock:
                if srv._subs:
                    break
            time.sleep(0.05)
        # flood live rows; the stalled client never reads -> its kernel
        # buffer fills, the sender thread blocks, the bounded queue
        # overflows, and the client is dropped (subscription reaped by the
        # woken reader loop)
        # fat INCOMPRESSIBLE frames (the protocol zlib-compresses; a
        # constant pad would shrink to nothing) so the kernel socket
        # buffers fill quickly and the sender thread blocks
        import os as _os

        pad = _os.urandom(60_000).hex()
        for i in range(4000):
            srv.publish_live(
                "amp-icmp",
                1,
                [{"timestamp": 200 + i, "value": float(i), "pad": pad + str(i)}],
            )
            with srv._lock:
                if not srv._subs:
                    break
        for _ in range(100):  # reader loop reaps tx + subscriptions
            with srv._lock:
                if not srv._subs and not srv._tx:
                    break
            time.sleep(0.05)
        with srv._lock:
            assert not srv._subs
            assert not srv._tx
        # a well-behaved client still gets service afterwards
        ok = _connect(srv)
        ok.sendall(pack(Msg.REQUEST, {"request": Req.COLLECTIONS}))
        mtype, body = read_message(ok)
        assert mtype == Msg.COLLECTIONS
        ok.close()
        stalled.close()
    finally:
        srv.stop()


def test_subscribe_load_three_clients_history_live_push_ordering(
    spark, monkeypatch
):
    """Load test for the subscribe path (reference exporter.py:1026-1052,
    1304-1349): three concurrent subscribed clients ride history (real
    10k-row flush blocks) into the live tail; one client then stalls under
    a fat-frame flood and is dropped by its bounded queue, while the other
    two keep receiving every LIVE row in publish order with PUSH markers
    correctly sequenced AFTER their batch and with increasing timestamps.
    Memory stays bounded throughout: per-client queues are capped, and the
    stalled client's queue/tx/subscription are reaped, not grown."""
    import os as _os

    import nntsc_spark.export.server as srv_mod

    monkeypatch.setattr(srv_mod, "LIVE_QUEUE_CAP", 64)
    monkeypatch.setattr(srv_mod, "SEND_TIMEOUT", 0.2)

    n_hist = 10_500  # > HISTORY_FLUSH_ROWS: exercises the real 10k flush
    fact = spark.createDataFrame(
        [(1, 100 + i, float(i)) for i in range(n_hist)],
        "stream_id long, timestamp long, value double",
    ).coalesce(4)
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        # -- subscribe 3 clients concurrently -------------------------------
        # A and B column-filter to "value" (flood pad never reaches them);
        # C takes raw rows and will stall.
        socks = {}
        for name, cols in (("A", ["value"]), ("B", ["value"]), ("C", None)):
            s = _connect(srv)
            body = {
                "collection": "amp-icmp",
                "labels": {"L": [1]},
                "start": 1,
                "stop": 10_000_000,
            }
            if cols:
                body["columns"] = cols
            s.sendall(pack(Msg.SUBSCRIBE, body))
            socks[name] = s

        # every client replays full history in flush blocks, then the seam
        hist_rows = {}
        for name, s in socks.items():
            msgs = _drain_until(s, Msg.HISTORY_DONE, limit=50)
            blocks = [b for t, b in msgs if t == Msg.HISTORY]
            rows = [r for b in blocks for r in b["history"]]
            assert len(rows) == n_hist, name
            # real 10k flush: first block full with more=True, last closes
            assert len(blocks[0]["history"]) == 10_000 and blocks[0]["more"]
            assert not blocks[-1]["more"]
            assert msgs[-1][1]["last_ts"] == 100 + n_hist - 1
            hist_rows[name] = rows

        # -- live batches with PUSH markers ---------------------------------
        def publish_batch(ts0, n, fat=False):
            pad = _os.urandom(60_000).hex() if fat else ""
            for i in range(n):
                row = {"timestamp": ts0 + i, "value": float(i)}
                if fat:
                    row["pad"] = pad + str(i)
                srv.publish_live("amp-icmp", 1, [row])
            srv.push_marker("amp-icmp", ts0 + n - 1)

        publish_batch(20_000, 20)
        # C stops reading from here on; fat flood fills its kernel buffer
        # then its bounded queue -> dropped (reference exporter.py:1449-1460)
        publish_batch(21_000, 400, fat=True)
        for _ in range(200):  # reader loop reaps C's tx + subscription
            with srv._lock:
                if len(srv._subs) == 2 and len(srv._tx) == 2:
                    break
            time.sleep(0.05)
        with srv._lock:
            assert len(srv._subs) == 2  # C reaped, A+B intact
            assert len(srv._tx) == 2
            assert all(t.q.qsize() <= 64 for t in srv._tx.values())
        publish_batch(22_000, 20)

        # -- A and B saw everything, ordered --------------------------------
        expected_live = (
            list(range(20_000, 20_020))
            + list(range(21_000, 21_400))
            + list(range(22_000, 22_020))
        )
        for name in ("A", "B"):
            s = socks[name]
            seq = []  # ("live", ts) / ("push", ts) in arrival order
            while sum(1 for k, _ in seq if k == "push") < 3:
                mtype, body = read_message(s)
                if mtype == Msg.LIVE:
                    row = body["result"]
                    assert "pad" not in row, name  # P6 live column filter
                    seq.append(("live", row["timestamp"]))
                elif mtype == Msg.PUSH:
                    seq.append(("push", body["timestamp"]))
            live_ts = [ts for k, ts in seq if k == "live"]
            assert live_ts == expected_live, name  # publish order, no loss
            push_ts = [ts for k, ts in seq if k == "push"]
            assert push_ts == [20_019, 21_399, 22_019], name  # increasing
            # each PUSH arrives after every LIVE row of its own batch
            for marker in push_ts:
                assert seq.index(("push", marker)) > seq.index(("live", marker)), name
            s.close()
        socks["C"].close()
    finally:
        srv.stop()


def test_malicious_pickle_rejected():
    """The protocol unpickler must refuse GLOBAL lookups — raw pickle gives
    any client RCE via __reduce__ (r5 review finding)."""
    import pickle
    import zlib

    import pytest as _pytest

    from nntsc_spark.export.protocol import safe_loads

    class Evil:
        def __reduce__(self):
            import os

            return (os.getcwd, ())  # benign stand-in for os.system

    with _pytest.raises(pickle.UnpicklingError, match="forbids global"):
        safe_loads(pickle.dumps(Evil()))
    # plain data and the protocol enums still round-trip
    body = {"request": Req.COLLECTIONS, "n": 3, "xs": [1, "a", (2.5, b"b")]}
    assert safe_loads(zlib.decompress(pack(Msg.REQUEST, body)[6:]))["n"] == 3


def test_decompression_bomb_and_oversized_frame_rejected(server):
    """read_message must bound both the frame length and the decompressed
    body (r5 advice: a 4 GiB header + ~1000:1 zlib expansion lets any
    client OOM the server with a tiny bomb frame)."""
    import struct
    import zlib

    import pytest as _pytest

    from nntsc_spark.export.protocol import (
        HDR_FMT,
        MAX_BODY_BYTES,
        MAX_FRAME_BYTES,
        FrameTooLarge,
        bounded_decompress,
    )

    # unit level: a bomb payload (300 MiB of zeros, ~300 KiB compressed)
    bomb = zlib.compress(b"\x00" * (MAX_BODY_BYTES + 1))
    assert len(bomb) < 1 << 20  # it IS a bomb
    with _pytest.raises(FrameTooLarge, match="ceiling"):
        bounded_decompress(bomb)
    # legit payloads still round-trip
    assert bounded_decompress(zlib.compress(b"ok" * 10)) == b"ok" * 10
    # trailing garbage after a COMPLETE zlib stream lands in unused_data
    # (not unconsumed_tail) and must be rejected, not silently dropped
    with _pytest.raises(FrameTooLarge, match="trailing garbage"):
        bounded_decompress(zlib.compress(b"hi") + b"GARBAGE")

    # wire level: an oversized header is rejected without reading the
    # payload, the client gets an ERROR frame, then the socket closes
    s = _connect(server)
    s.sendall(struct.pack(HDR_FMT, int(Msg.REQUEST), MAX_FRAME_BYTES + 1))
    mtype, body = read_message(s)
    assert mtype == Msg.ERROR and "cap" in body["error"]
    assert s.recv(1) == b""  # server dropped the connection
    s.close()

    # wire level: a bomb inside an allowed frame size also gets ERROR+drop
    s2 = _connect(server)
    s2.sendall(struct.pack(HDR_FMT, int(Msg.REQUEST), len(bomb)) + bomb)
    mtype2, body2 = read_message(s2)
    assert mtype2 == Msg.ERROR and "ceiling" in body2["error"]
    assert s2.recv(1) == b""
    s2.close()

    # the server is still healthy for well-behaved clients
    s3 = _connect(server)
    s3.sendall(pack(Msg.REQUEST, {"request": Req.COLLECTIONS}))
    assert read_message(s3)[0] == Msg.COLLECTIONS
    s3.close()


def test_history_exact_flush_multiple_terminates(spark, monkeypatch):
    """A label with row count an exact multiple of the flush size must
    still get a final more=False block (r5 review finding: clients
    looping 'read until more == False' hung on the missing terminator)."""
    import nntsc_spark.export.server as srv_mod

    monkeypatch.setattr(srv_mod, "HISTORY_FLUSH_ROWS", 10)
    fact = spark.createDataFrame(
        [(1, 100 + i, float(i)) for i in range(20)],  # exactly 2 flushes
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.SUBSCRIBE,
                {"collection": "amp-icmp", "labels": {"L": [1]},
                 "start": 1, "stop": 10_000},
            )
        )
        msgs = _drain_until(s, Msg.HISTORY_DONE, limit=20)
        blocks = [b for t, b in msgs if t == Msg.HISTORY]
        assert [len(b["history"]) for b in blocks] == [10, 10, 0]
        assert [b["more"] for b in blocks] == [True, True, False]
        s.close()
    finally:
        srv.stop()


def test_subscribe_seam_dedup_is_per_stream(spark):
    """Per-stream seam bounds (reference exporter.py:1026-1052): a live row
    for a LAGGING stream arriving during history replay must be released,
    even when another label's history extends past its timestamp (the old
    global max-across-labels dropped it; r5 review finding)."""
    import threading as _threading

    import nntsc_spark.export.server as srv_mod
    from pyspark.sql import functions as _F
    from pyspark.sql.types import DoubleType

    @_F.udf(DoubleType())
    def slowv(v):
        time.sleep(0.15)
        return v

    # stream 1 history ends at ts=100; stream 2's at ts=2000. The slow UDF
    # keeps the replay busy long enough to buffer a live row mid-replay.
    fact = (
        spark.createDataFrame(
            [(1, 100, 1.0)] + [(2, 2000 - i, 2.0) for i in range(8)],
            "stream_id long, timestamp long, value double",
        )
        .repartition(1)
        .withColumn("value", slowv("value"))
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1"), (2, "src", "d2")],
        "stream_id long, source string, destination string",
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.SUBSCRIBE,
                {"collection": "amp-icmp", "labels": {"A": [1], "B": [2]},
                 "start": 1, "stop": 10_000},
            )
        )
        # wait for the subscription to register, then publish a live row
        # for stream 1 at ts=150: after stream 1's history (100) but far
        # below stream 2's (2000)
        for _ in range(100):
            with srv._lock:
                if srv._subs:
                    break
            time.sleep(0.02)
        srv.publish_live("amp-icmp", 1, [{"timestamp": 150, "value": 9.0}])
        done = 0
        live = []
        while done < 2:
            mtype, body = read_message(s)
            if mtype == Msg.HISTORY_DONE:
                done += 1
            elif mtype == Msg.LIVE:
                live.append(body["result"]["timestamp"])
        # the buffered row must be released at the seam
        for _ in range(50):
            if live:
                break
            s.settimeout(0.2)
            try:
                mtype, body = read_message(s)
            except (TimeoutError, OSError):
                break
            if mtype == Msg.LIVE:
                live.append(body["result"]["timestamp"])
        assert live == [150]
        s.close()
    finally:
        srv.stop()


def test_subscribe_timeout_single_history_done_per_label(spark):
    """After a subscribe-history QueryTimeout, _cancel_history's
    HISTORY_DONE must be the ONLY terminator per label (the old fall-
    through sent a duplicate set; r5 review finding).  The timeout is
    raised synthetically: whether a real job-group cancel surfaces as an
    iterator error is a UDF-batching race (sometimes the killed job just
    ends and history completes), and this test pins the HANDLER's framing
    on the timeout path, not Spark's cancellation latency."""
    from nntsc_spark.export.server import QueryTimeout

    fact = spark.createDataFrame(
        [(1, 100, 1.0)], "stream_id long, timestamp long, value double"
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(
        spark, {"amp-icmp": {"fact": fact, "streams": streams}},
        query_timeout=1,
    )

    def raise_timeout(sock, colname, df, binsize):
        raise QueryTimeout("synthetic")

    srv._ship_history = raise_timeout
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.SUBSCRIBE,
                {"collection": "amp-icmp", "labels": {"L": [1]},
                 "start": 1, "stop": 10_000},
            )
        )
        _drain_until(s, Msg.QUERY_CANCELLED, limit=20)
        mtype, body = read_message(s)
        assert mtype == Msg.HISTORY_DONE and body["label"] == "L"
        # no second HISTORY_DONE: the next frame (if any) must be LIVE for
        # a fresh row, proving the subscription went live cleanly
        srv.publish_live("amp-icmp", 1, [{"timestamp": 5000, "value": 1.0}])
        mtype, body = read_message(s)
        assert mtype == Msg.LIVE and body["result"]["timestamp"] == 5000
        s.close()
    finally:
        srv.stop()


def test_version_handshake_precedes_any_response(server):
    """exporter.py:1150-1156: the FIRST frame on every connection is
    VERSION_CHECK carrying the client-API version — before any reply."""
    s = socket.create_connection(("127.0.0.1", server.port), timeout=60)
    # send a request immediately; the handshake must still arrive first
    s.sendall(pack(Msg.REQUEST, {"request": int(Req.COLLECTIONS)}))
    mtype, body = read_message(s)
    assert mtype == Msg.VERSION_CHECK
    assert body == CLIENTAPI_VERSION
    mtype, _ = read_message(s)
    assert mtype == Msg.COLLECTIONS
    s.close()


def test_unsubscribe_drops_stream_keeps_rest(server):
    """exporter.py:894-905: UNSUBSCRIBE drops streams from a live
    subscription; the remaining streams keep flowing on the same
    connection."""
    s = _connect(server)
    s.sendall(
        pack(
            Msg.SUBSCRIBE,
            {"collection": "amp-icmp", "labels": {"A": [1], "B": [2]},
             "columns": ["value"], "start": 1, "stop": 10_000},
        )
    )
    # both labels complete their history replay
    msgs = _drain_until(s, Msg.HISTORY_DONE, limit=100)
    if len([b for t, b in msgs if t == Msg.HISTORY_DONE]) < 2:
        _drain_until(s, Msg.HISTORY_DONE, limit=100)

    s.sendall(pack(Msg.UNSUBSCRIBE,
                   {"collection": "amp-icmp", "streams": [1]}))
    # sync barrier: UNSUBSCRIBE is handled inline by the reader thread
    # BEFORE the next message is read, so this reply proves the drop
    s.sendall(pack(Msg.REQUEST, {"request": int(Req.COLLECTIONS)}))
    mtype, _ = read_message(s)
    assert mtype == Msg.COLLECTIONS

    server.publish_live(
        "amp-icmp", 1,
        [{"timestamp": 50_000, "value": 1.0, "stream_id": 1,
          "nntsclabel": "A"}],
    )
    server.publish_live(
        "amp-icmp", 2,
        [{"timestamp": 50_000, "value": 2.0, "stream_id": 2,
          "nntsclabel": "B"}],
    )
    # only stream 2's row arrives; a LIVE for stream 1 here would be read
    # as the first frame and fail the stream-id assertion
    mtype, body = read_message(s)
    assert mtype == Msg.LIVE
    assert body["stream_id"] == 2 and body["result"]["value"] == 2.0
    s.close()


def test_percentile_politely_rejected(server):
    """exporter.py:144-148: legacy NNTSC_PERCENTILE gets an explicit
    'no longer supported' reply, not the generic bad-msgtype error."""
    s = _connect(server)
    s.sendall(pack(Msg.PERCENTILE, {"collection": "amp-icmp"}))
    mtype, body = read_message(s)
    assert mtype == Msg.ERROR
    assert "percentile" in body["error"].lower()
    # connection still usable afterwards
    s.sendall(pack(Msg.REQUEST, {"request": int(Req.COLLECTIONS)}))
    mtype, _ = read_message(s)
    assert mtype == Msg.COLLECTIONS
    s.close()


def test_new_stream_announced_live_via_ingest(spark, tmp_path):
    """exporter.py:1351-1406 + parsers/common.py:203-215: a client that
    issued a STREAMS request is told about streams created by a later
    ingest batch — without re-requesting — and receives the new stream's
    first live rows (the newstreams forwarding, exporter.py:1466-1484)."""
    from nntsc_spark.ingest.amp_icmp import UNIQUE_COLS, process_icmp
    from nntsc_spark.streaming.ingest import CollectionIngestor

    streams = spark.createDataFrame(
        [], "stream_id long, source string, destination string"
    )
    fact = spark.createDataFrame(
        [], "stream_id long, timestamp long, value double"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        s = _connect(srv)
        # registers collection interest (exporter.py:1118-1119)
        s.sendall(pack(Msg.REQUEST, {"request": int(Req.STREAMS),
                                     "collection": "amp-icmp", "minid": 0}))
        mtype, body = read_message(s)
        assert mtype == Msg.STREAMS and body["streams"] == []

        ing = CollectionIngestor(
            spark,
            process_icmp,
            UNIQUE_COLS,
            fact_path=str(tmp_path / "fact"),
            streams_path=str(tmp_path / "streams"),
            collection="amp-icmp",
            exporter=srv,
        )
        raw = spark.createDataFrame(
            [("src", 5_000_000, 1234, 0, False, "dstX", "1.2.3.4", 84)],
            "source string, timestamp long, rtt long, loss long, "
            "random boolean, target string, address string, packet_size long",
        )
        ing.process_batch(raw)

        # announcement arrives as a STREAMS frame
        mtype, body = read_message(s)
        assert mtype == Msg.STREAMS
        assert body["collection"] == "amp-icmp" and body["more"] is False
        props = body["streams"]
        assert len(props) == 1 and props[0]["destination"] == "dstX"
        sid = props[0]["stream_id"]
        # ...followed by the new stream's first live batch as LIVE
        mtype, body = read_message(s)
        assert mtype == Msg.LIVE
        assert body["stream_id"] == sid
        assert body["result"]["timestamp"] == 5_000_000
        s.close()
    finally:
        srv.stop()


def test_matrix_rollups_default_from_schema_registry(spark, monkeypatch):
    """Per-collection matrix CQ declarations (amp_icmp.py:72-79, registry
    plumbing cqs.py:74-76): a server built WITHOUT hand-supplied rollup
    config records the registry-derived rollup SPECS and serves MATRIX
    through the request-time FILTERED build — never a pre-declared rollup
    plan over the full unfiltered fact (that path re-aggregated the
    collection's entire history per request, r14 ADVICE) and never the
    stored path (poisoned here, so a fall-through fails loudly)."""
    import nntsc_spark.export.server as srv_mod
    from nntsc_spark.schemas import COLLECTIONS as REG

    cases = {
        "amp-icmp": ("median", 7.0),
        "amp-tcpping": ("median", 7.0),
        "amp-dns": ("rtt", 7.0),
    }
    colls = {}
    for name, (col, _mean) in cases.items():
        cols = REG[name].rollup_value_cols
        rows = [
            tuple([1, 1000 + 60 * i] + [float(i % 3) + (6.0 if c == col else 0.0)
                                        for c in cols])
            for i in range(9)
        ]
        schema = "stream_id long, timestamp long, " + ", ".join(
            f"{c} double" for c in cols
        )
        fact = spark.createDataFrame(rows, schema)
        streams = spark.createDataFrame(
            [(1, "src", "d1")],
            "stream_id long, source string, destination string",
        )
        colls[name] = {"fact": fact, "streams": streams}

    srv = ExportServer(spark, colls)
    # registry SPECS recorded for both rollup binsizes; no lazy full-fact
    # rollup DataFrames fabricated
    for name, (col, _mean) in cases.items():
        assert set(colls[name]["rollup_specs"]) == {60, 3600}
        assert col in colls[name]["rollup_specs"][3600]
        assert "rollups" not in colls[name]

    def poisoned(*a, **k):
        raise AssertionError(
            "registry-defaulted matrix must not take the stored path"
        )

    monkeypatch.setattr(srv_mod, "select_matrix_from_stored", poisoned)
    srv.start()
    try:
        s = _connect(srv)
        for name, (col, mean) in cases.items():
            s.sendall(
                pack(
                    Msg.MATRIX,
                    {"collection": name, "labels": {"L": [1]},
                     "value_cols": [col], "start": 0, "stop": 7200},
                )
            )
            matrix = []
            while True:
                mtype, body = read_message(s)
                assert mtype == Msg.HISTORY, body
                matrix.extend(body["matrix"])
                if body["more"] is False:
                    break
            assert len(matrix) == 1
            row = matrix[0]
            assert row[f"avg_{col}"] == pytest.approx(mean)
            assert row[f"count_{col}"] == 9
        s.close()
    finally:
        srv.stop()


def test_matrix_stored_rollup_requires_every_merge_stat(spark):
    """An externally supplied rollups table that has mean_ but lacks the
    other stats merge_rollup consumes (magiccount_/sum_/max_/min_/stddev_)
    must fail the coverage gate and fall back to the inline build instead
    of dying inside the merge with an unresolved-column error
    (r14 ADVICE)."""
    fact = spark.createDataFrame(
        [(1, 1000 + 60 * i, float(i)) for i in range(4)],
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    from pyspark.sql import functions as F

    # a crippled "rollup": right shape-ish, but only the mean_ column
    crippled = (
        fact.groupBy("stream_id")
        .agg(F.min("timestamp").alias("binstart"),
             F.avg("value").alias("mean_value"))
    )
    srv = ExportServer(
        spark,
        {"amp-icmp": {"fact": fact, "streams": streams,
                      "rollups": {3600: crippled, 60: crippled}}},
    )
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.MATRIX,
                {"collection": "amp-icmp", "labels": {"L": [1]},
                 "value_cols": ["value"], "start": 0, "stop": 7200},
            )
        )
        matrix = []
        while True:
            mtype, body = read_message(s)
            assert mtype == Msg.HISTORY, body
            matrix.extend(body["matrix"])
            if body["more"] is False:
                break
        assert len(matrix) == 1
        assert matrix[0]["count_value"] == 4
        assert matrix[0]["avg_value"] == pytest.approx(1.5)
        s.close()
    finally:
        srv.stop()


def test_matrix_stored_rollup_falls_back_on_undeclared_column(spark):
    """A MATRIX request for a column outside the declared matrix_cq set
    must fall back to the inline fact build, not fail the stored merge."""
    from nntsc_spark.schemas import COLLECTIONS as REG

    cols = REG["amp-icmp"].rollup_value_cols
    schema = (
        "stream_id long, timestamp long, undeclared double, "
        + ", ".join(f"{c} double" for c in cols)
    )
    fact = spark.createDataFrame(
        [tuple([1, 1000 + 60 * i, 5.0] + [1.0] * len(cols)) for i in range(4)],
        schema,
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(
        spark, {"amp-icmp": {"fact": fact, "streams": streams}}
    )
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.MATRIX,
                {"collection": "amp-icmp", "labels": {"L": [1]},
                 "value_cols": ["undeclared"], "start": 0, "stop": 7200},
            )
        )
        matrix = []
        while True:
            mtype, body = read_message(s)
            assert mtype == Msg.HISTORY, body
            matrix.extend(body["matrix"])
            if body["more"] is False:
                break
        assert len(matrix) == 1
        assert matrix[0]["avg_undeclared"] == pytest.approx(5.0)
        s.close()
    finally:
        srv.stop()


def test_malformed_unsubscribe_keeps_connection(server):
    """The inline UNSUBSCRIBE path must report a malformed body as an
    ERROR frame, not let the exception kill the reader loop (and with it
    the connection and every live subscription)."""
    s = _connect(server)
    s.sendall(pack(Msg.UNSUBSCRIBE, {"streams": [1]}))  # no collection
    mtype, body = read_message(s)
    assert mtype == Msg.ERROR
    # connection still usable
    s.sendall(pack(Msg.REQUEST, {"request": int(Req.COLLECTIONS)}))
    mtype, _ = read_message(s)
    assert mtype == Msg.COLLECTIONS
    s.close()


def _interest_server(spark):
    """Empty-fact server + a connected socket with collection interest."""
    streams = spark.createDataFrame(
        [], "stream_id long, source string, destination string"
    )
    fact = spark.createDataFrame(
        [], "stream_id long, timestamp long, value double"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    s = _connect(srv)
    s.sendall(pack(Msg.REQUEST, {"request": int(Req.STREAMS),
                                 "collection": "amp-icmp", "minid": 0}))
    mtype, body = read_message(s)
    assert mtype == Msg.STREAMS and body["streams"] == []
    return srv, s


def test_announce_precedes_racing_live_forward(spark, monkeypatch):
    """r14 ADVICE: a publish_live racing announce_streams must never place
    the new stream's first LIVE frame ahead of its STREAMS announcement.
    The worst-case interleaving is forced by firing publish_live from
    INSIDE the announcement's first frame enqueue: the forwarding entry
    must not exist yet, so the racing batch is dropped rather than
    reordered, and the post-announce batch is forwarded normally."""
    import nntsc_spark.export.server as srv_mod

    srv, s = _interest_server(spark)
    real_send = srv_mod.ExportServer._send
    fired = {"done": False}

    def racing_send(self, sock, mtype, body):
        if (mtype == Msg.STREAMS and not fired["done"]
                and isinstance(body, dict) and body.get("streams")):
            fired["done"] = True  # no recursion: LIVE frames skip this arm
            self.publish_live("amp-icmp", 9,
                              [{"timestamp": 1, "value": 1.0}])
        real_send(self, sock, mtype, body)

    monkeypatch.setattr(srv_mod.ExportServer, "_send", racing_send)
    try:
        srv.announce_streams(
            "amp-icmp", [{"stream_id": 9, "source": "src",
                          "destination": "d9"}]
        )
        assert fired["done"]
        srv.publish_live("amp-icmp", 9, [{"timestamp": 2, "value": 2.0}])
        mtype, body = read_message(s)
        assert mtype == Msg.STREAMS  # the announcement is always first
        assert body["streams"][0]["stream_id"] == 9
        mtype, body = read_message(s)
        assert mtype == Msg.LIVE
        # the racing pre-announcement batch was dropped, not reordered
        assert body["result"]["timestamp"] == 2
        s.close()
    finally:
        srv.stop()


def test_new_streams_entry_expires_without_publish(spark, monkeypatch):
    """r14 verdict task 7: an announced stream that never publishes loses
    its first-live forwarding entry after NEW_STREAM_GEN_CAP later
    announcement rounds instead of persisting forever."""
    import nntsc_spark.export.server as srv_mod

    monkeypatch.setattr(srv_mod, "NEW_STREAM_GEN_CAP", 2)
    srv, s = _interest_server(spark)
    try:
        srv.announce_streams(
            "amp-icmp", [{"stream_id": 1, "source": "s", "destination": "a"}]
        )
        assert 1 in srv._new_streams
        for sid in (2, 3):  # within the cap: entry 1 survives
            srv.announce_streams(
                "amp-icmp",
                [{"stream_id": sid, "source": "s", "destination": str(sid)}],
            )
        assert 1 in srv._new_streams
        srv.announce_streams(  # round 4: gen 1 is now > cap behind
            "amp-icmp", [{"stream_id": 4, "source": "s", "destination": "d"}]
        )
        assert 1 not in srv._new_streams
        assert {3, 4} <= set(srv._new_streams)
        # an expired entry forfeits forwarding but the stream still works:
        # a LIVE for it is simply not auto-forwarded (no subscription)
        srv.publish_live("amp-icmp", 1, [{"timestamp": 5, "value": 1.0}])
        # the freshest announced stream still gets its first batch
        srv.publish_live("amp-icmp", 4, [{"timestamp": 6, "value": 2.0}])
        got = _drain_until(s, Msg.LIVE, limit=10)
        live = [b for t, b in got if t == Msg.LIVE]
        assert live[0]["stream_id"] == 4
        s.close()
    finally:
        srv.stop()


def test_unsubscribe_during_history_replay(spark, monkeypatch):
    """r14 verdict task 6 (reference waitstreams deletion,
    exporter.py:894-905): an UNSUBSCRIBE arriving WHILE history replay is
    in flight (waiting=True) must discard the dropped stream's buffered
    live rows — they never arrive after the replay finishes — while the
    sibling stream's seam ordering stays intact."""
    import nntsc_spark.export.server as srv_mod

    started, go = threading.Event(), threading.Event()
    real_ship = srv_mod.ExportServer._ship_history

    def stalled_ship(self, sock, colname, out, *args, **kwargs):
        started.set()
        assert go.wait(timeout=30)
        return real_ship(self, sock, colname, out, *args, **kwargs)

    monkeypatch.setattr(srv_mod.ExportServer, "_ship_history", stalled_ship)
    fact = spark.createDataFrame(
        [(1, 100 + i, float(i)) for i in range(3)]
        + [(2, 200 + i, 10.0 + i) for i in range(3)],
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(1, "src", "d1"), (2, "src", "d2")],
        "stream_id long, source string, destination string",
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.SUBSCRIBE,
                {"collection": "amp-icmp", "labels": {"L1": [1], "L2": [2]},
                 "start": 1, "stop": 10_000},
            )
        )
        assert started.wait(timeout=30)
        # live rows for BOTH streams buffer behind the stalled replay
        srv.publish_live("amp-icmp", 1, [{"timestamp": 20_000, "value": 1.0}])
        srv.publish_live("amp-icmp", 2, [{"timestamp": 20_001, "value": 2.0},
                                         {"timestamp": 20_002, "value": 3.0}])
        # inline unsubscribe takes effect immediately, mid-replay
        s.sendall(pack(Msg.UNSUBSCRIBE,
                       {"collection": "amp-icmp", "streams": [1]}))
        with srv._lock:
            sub = srv._subs[0]
        for _ in range(300):
            with srv._lock:
                if 1 not in sub.stream_ids:
                    break
            time.sleep(0.01)
        go.set()
        _drain_until(s, Msg.HISTORY_DONE, limit=50)
        # both labels replayed history (the query predates the drop);
        # after the second label's terminator ONLY stream 2's buffered
        # rows arrive, in publish order
        live = []
        while len(live) < 2:
            m = read_message(s)
            assert m is not None
            if m[0] == Msg.HISTORY_DONE:
                continue  # the second label's terminator
            assert m[0] == Msg.LIVE
            assert m[1]["stream_id"] == 2  # stream 1's buffer was discarded
            live.append(m[1]["result"]["timestamp"])
        assert live == [20_001, 20_002]
        # post-replay publishes: dropped stream stays dropped
        srv.publish_live("amp-icmp", 1, [{"timestamp": 30_000, "value": 4.0}])
        srv.publish_live("amp-icmp", 2, [{"timestamp": 30_001, "value": 5.0}])
        m = read_message(s)
        assert m[0] == Msg.LIVE and m[1]["stream_id"] == 2
        assert m[1]["result"]["timestamp"] == 30_001
        s.close()
    finally:
        srv.stop()


def _read_blocks(sock, mtype, key):
    """Frames of one block-framed reply, up to and including more=False."""
    frames = []
    while True:
        got, body = read_message(sock)
        assert got == mtype
        frames.append((len(body[key]), body["more"]))
        if body["more"] is False:
            return frames


def test_block_framing_exact_multiple_ends_with_empty_frame(spark, monkeypatch):
    """STREAMS and MATRIX replies whose row count is an exact multiple of
    the block size: every full block goes out with more=True, then one
    empty more=False terminator (reference exporter.py:434-445,
    641-657)."""
    import nntsc_spark.export.server as srv_mod

    monkeypatch.setattr(srv_mod, "STREAMS_BATCH_ROWS", 3)
    monkeypatch.setattr(srv_mod, "HISTORY_FLUSH_ROWS", 4)
    n = 8  # streams = labels = matrix rows (one bin per label)
    fact = spark.createDataFrame(
        [(i, 100, float(i)) for i in range(1, n + 1)],
        "stream_id long, timestamp long, value double",
    )
    streams = spark.createDataFrame(
        [(i, "s", f"d{i}") for i in range(1, n + 1)],
        "stream_id long, source string, destination string",
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(pack(Msg.REQUEST, {"request": int(Req.STREAMS),
                                     "collection": "amp-icmp", "minid": 2}))
        assert _read_blocks(s, Msg.STREAMS, "streams") == [
            (3, True), (3, True), (0, False)
        ]
        s.sendall(
            pack(
                Msg.MATRIX,
                {"collection": "amp-icmp",
                 "labels": {f"L{i}": [i] for i in range(1, n + 1)},
                 "value_cols": ["value"], "start": 0, "stop": 7200},
            )
        )
        assert _read_blocks(s, Msg.HISTORY, "matrix") == [
            (4, True), (4, True), (0, False)
        ]
        s.close()
    finally:
        srv.stop()


def test_history_stops_converting_rows_after_client_disconnect(
    spark, monkeypatch
):
    """A client that disconnects mid-history stops the replay at the next
    flush: the server leaves the rest of toLocalIterator unread instead of
    pulling and converting every remaining row for nobody.  Each row
    conversion is slowed so the replay is still running when the
    disconnect lands."""
    import nntsc_spark.export.server as srv_mod
    from pyspark.sql import Row

    n = 2000
    monkeypatch.setattr(srv_mod, "HISTORY_FLUSH_ROWS", 5)
    converted = []
    real_as_dict = Row.asDict

    def slow_as_dict(self, recursive=False):
        converted.append(1)
        time.sleep(0.001)
        return real_as_dict(self, recursive)

    monkeypatch.setattr(Row, "asDict", slow_as_dict)
    fact = spark.createDataFrame(
        [(1, 100 + i, float(i)) for i in range(n)],
        "stream_id long, timestamp long, value double",
    ).repartition(16)
    streams = spark.createDataFrame(
        [(1, "src", "d1")], "stream_id long, source string, destination string"
    )
    srv = ExportServer(spark, {"amp-icmp": {"fact": fact, "streams": streams}})
    done = threading.Event()
    real_ship = srv._ship_history

    def ship(*args):
        try:
            return real_ship(*args)
        finally:
            done.set()

    srv._ship_history = ship
    srv.start()
    try:
        s = _connect(srv)
        s.sendall(
            pack(
                Msg.AGGREGATE,
                {"collection": "amp-icmp", "labels": {"L": [1]},
                 "aggcols": [("value", "avg")], "start": 1,
                 "stop": 100 + n, "binsize": 1},
            )
        )
        mtype, body = read_message(s)
        assert mtype == Msg.HISTORY and len(body["history"]) == 5
        s.close()
        assert done.wait(timeout=60)
        assert len(converted) < n
    finally:
        srv.stop()
