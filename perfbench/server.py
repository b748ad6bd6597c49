"""Workload ``export-live``: the export server under a request mix, then
live ingest fanned out to subscribers, in one process and one session.

Phase A (closed loop, ``CLIENTS`` TCP clients on loopback): an in-process
``ExportServer`` over ``events_fact`` of a generated sf0.1-sized events
table plus a streams dimension derived from its stream ids.  Each client
cycles through a fixed sequence of request kinds (AGGREGATE at binsize 300
and 3600, MATRIX, REQUEST STREAMS, SUBSCRIBE history wide and narrow), one
request per kind with seeded parameters.  The wide SUBSCRIBE ships more rows than one 10k-row
HISTORY flush; the narrow kinds ship at most ~100 rows.

Phase B (open loop, one batch every ``BATCH_INTERVAL`` s): raw amp-icmp
batch files land in a directory that ``CollectionIngestor.start_stream``
reads with the default trigger (not ``availableNow``); the ingestor is
wired to the same server, whose ``SUBSCRIBERS`` live subscribers receive
LIVE rows and one PUSH per batch.  After each batch's PUSH, a fresh
AGGREGATE over ``read_fact`` of the table being written runs before the
next batch is due, so reads interleave with writes.

The two phases never overlap, so neither perturbs the other's timings.
"""

from __future__ import annotations

import os
import random
import socket
import struct
import threading
import time
from collections import Counter

import pyarrow.parquet as pq

from . import common, datagen
from . import trace as tr
from .checks import check_export, check_ingest, expected_icmp

EVENTS = 100_000
CLIENTS = 2
SUBSCRIBERS = 2
INGEST_STREAMS = 40
INGEST_ROWS = 200
#: a batch takes 1.5-4 s end to end on a 4-core host, its fresh read
#: another 0.7-1.2 s; the interval keeps the stream idle between batches,
#: so the lag does not include a backlog
BATCH_INTERVAL = 6.0
#: share of ``--seconds`` given to phase A; phase B gets the rest
EXPORT_SHARE = 0.6
KINDS = ("agg300", "agg3600", "matrix", "streams", "sub_wide", "sub_narrow")
#: two batches are ingested during set-up (stream start, first fan-out)
WARM_BATCHES = 2
MIN_LIVE = 3
#: longest wait for an ingest milestone; keeps a broken run under 180 s
WAIT_S = 45
#: every layer does work here
IDLE_LAYERS = frozenset()


# -- client side ------------------------------------------------------------------


class Client:
    """A blocking protocol client that timestamps every frame on arrival
    and times its own decoding separately from waiting."""

    def __init__(self, port: int) -> None:
        from nntsc_spark.export.protocol import CLIENTAPI_VERSION, Msg

        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.decode_s = 0.0
        mtype, body, _, _ = self.read()
        if mtype != Msg.VERSION_CHECK or body != CLIENTAPI_VERSION:
            raise RuntimeError(f"bad handshake {mtype} {body!r}")

    def _exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def read(self):
        """(Msg, body, arrival time, wire bytes)."""
        from nntsc_spark.export.protocol import (
            HDR_FMT,
            HDR_LEN,
            Msg,
            bounded_decompress,
            safe_loads,
        )

        mtype, length = struct.unpack(HDR_FMT, self._exact(HDR_LEN))
        payload = self._exact(length)
        t = time.perf_counter()
        body = safe_loads(bounded_decompress(payload))
        self.decode_s += time.perf_counter() - t
        return Msg(mtype), body, t, HDR_LEN + length

    def send(self, mtype, body) -> float:
        from nntsc_spark.export.protocol import pack

        frame = pack(mtype, body)
        t = time.perf_counter()
        self.sock.sendall(frame)
        return t

    def close(self) -> None:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()


def make_requests(seed: int, streams: list[int]) -> dict[str, dict]:
    """One seeded request per kind."""
    from nntsc_spark.export.protocol import Req

    rng = random.Random(seed)
    t0, span, day = datagen.EPOCH0, datagen.SPAN, 86_400

    def pick(n):
        return sorted(rng.sample(streams, n))

    d0 = t0 + rng.randrange(0, span - 5 * day, 3600)
    grouped = pick(40)
    return {
        "agg300": {"collection": "events", "labels": {"n": pick(2)},
                   "aggcols": [("value", "avg"), ("value", "max")],
                   "start": d0, "stop": d0 + 2 * day, "binsize": 300},
        "agg3600": {"collection": "events",
                    "labels": {f"g{j}": grouped[j::4] for j in range(4)},
                    "aggcols": [("value", "avg"), ("value", "count")],
                    "start": t0, "stop": t0 + span, "binsize": 3600},
        "matrix": {"collection": "events",
                   "labels": {f"m{s}": [s] for s in pick(20)},
                   "value_cols": ["value"], "start": d0, "stop": d0 + 2 * day},
        "streams": {"request": int(Req.STREAMS), "collection": "events", "minid": 0},
        "sub_wide": {"collection": "events", "labels": {"w": pick(250)},
                     "columns": ["value"], "start": t0, "stop": t0 + span},
        "sub_narrow": {"collection": "events", "labels": {"s": pick(3)},
                       "columns": ["value"], "start": d0, "stop": d0 + 5 * day},
    }


def msg_of(kind: str):
    from nntsc_spark.export.protocol import Msg

    return {
        "agg300": Msg.AGGREGATE, "agg3600": Msg.AGGREGATE,
        "matrix": Msg.MATRIX, "streams": Msg.REQUEST,
        "sub_wide": Msg.SUBSCRIBE, "sub_narrow": Msg.SUBSCRIBE,
    }[kind]


def is_last(kind: str, req: dict, mtype, body, done: int) -> tuple[bool, int]:
    """Whether this frame terminates the reply; counts HISTORY_DONE."""
    from nntsc_spark.export.protocol import Msg

    if mtype == Msg.ERROR:
        return True, done
    if kind == "streams":
        return mtype == Msg.STREAMS and body["more"] is False, done
    if kind == "matrix":
        return mtype == Msg.HISTORY and body["more"] is False, done
    if mtype == Msg.HISTORY_DONE:
        done += 1
    return done == len(req["labels"]), done


def one_request(client: Client, kind: str, req: dict) -> dict:
    """Send one request and read to its terminating frame."""
    from nntsc_spark.export.protocol import Msg

    t_send = client.send(msg_of(kind), req)
    frames, t_first, done = [], None, 0
    while True:
        mtype, body, t, _ = client.read()
        t_first = t_first or t
        frames.append((mtype, body))
        last, done = is_last(kind, req, mtype, body, done)
        if last:
            break
    rows = sum(
        len(b.get("history") or b.get("matrix") or b.get("streams") or [])
        for m, b in frames
        if m in (Msg.HISTORY, Msg.STREAMS)
    )
    return {"kind": kind, "req": req, "send": t_send, "first": t_first,
            "last": t, "frames": frames, "rows": rows}


# -- phases ---------------------------------------------------------------------


def export_phase(port: int, requests: dict, seconds: float, warm: bool = False):
    """CLIENTS closed-loop clients, each running whole cycles of KINDS for
    about ``seconds`` (``common.Window``); returns every completed request.
    ``warm`` runs each kind once, the clients sharing the cycle."""
    done: list[dict] = []
    lock = threading.Lock()
    errors: list[str] = []
    clients = [Client(port) for _ in range(CLIENTS)]

    def loop(ci: int) -> None:
        # whole cycles only, so every client ships the same mix of kinds;
        # fixed starting offsets keep which kinds overlap the same in
        # every run
        k0 = ci * len(KINDS) // CLIENTS
        cycle = KINDS[k0:] + KINDS[:k0]
        if warm:
            cycle = cycle[:len(KINDS) // CLIENTS]
        window = common.Window(seconds, time.perf_counter)
        try:
            while window.another_round():
                for kind in cycle:
                    rec = one_request(clients[ci], kind, requests[kind])
                    with lock:
                        done.append(rec)
        except (OSError, ConnectionError, RuntimeError) as exc:
            with lock:
                errors.append(f"client {ci}: {exc}")

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(CLIENTS)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 120)
    elapsed = time.perf_counter() - t0
    decode = sum(c.decode_s for c in clients)
    for c in clients:
        c.close()
    return done, errors, elapsed, decode


class Subscriber:
    """A live-only subscriber whose reader thread records LIVE rows and
    PUSH arrival times."""

    def __init__(self, port: int, labels: dict[str, list[int]]) -> None:
        from nntsc_spark.export.protocol import Msg

        self.client = Client(port)
        self.streams = {s for ids in labels.values() for s in ids}
        self.live: Counter = Counter()
        self.push: list[tuple[int, float]] = []
        self.other: list = []
        self.client.send(Msg.SUBSCRIBE, {"collection": "amp-icmp",
                                         "labels": labels, "start": None})
        pending = len(labels)
        while pending:
            mtype, body, _, _ = self.client.read()
            if mtype == Msg.HISTORY_DONE:
                pending -= 1
            elif mtype != Msg.HISTORY:
                self.other.append((mtype, body))
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self) -> None:
        from nntsc_spark.export.protocol import Msg

        try:
            while True:
                mtype, body, t, _ = self.client.read()
                if mtype == Msg.LIVE:
                    self.live[(body["stream_id"], body["result"]["timestamp"])] += 1
                elif mtype == Msg.PUSH:
                    self.push.append((body["timestamp"], t))
                else:
                    self.other.append((mtype, body))
        except (OSError, ConnectionError):
            return

    def got_push(self, ts: int) -> bool:
        return any(t == ts for t, _ in self.push)

    def close(self) -> None:
        self.client.close()
        self.thread.join(timeout=10)


def wait_for(pred, timeout: float, what: str, query=None) -> None:
    """Poll ``pred``; give up after ``timeout`` s or when the streaming
    ``query`` has died."""
    t_end = time.monotonic() + timeout
    while not pred():
        if query is not None and not query.isActive:
            raise RuntimeError(f"ingest stream stopped: {query.exception()}")
        if time.monotonic() > t_end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.01)


def fresh_read(spark, fact_path: str, labels: dict, spans: tr.Spans) -> float:
    """AGGREGATE over a fresh ``read_fact`` of the table being written;
    returns its wall seconds."""
    from nntsc_spark import storage
    from nntsc_spark.operators.aggregate import select_aggregated_data
    from nntsc_spark.operators.labels import build_label_map

    t0 = time.perf_counter()
    df = storage.read_fact(spark, fact_path)
    spans.add("storage.read_fact", time.perf_counter() - t0)
    out = select_aggregated_data(
        df, build_label_map(spark, labels), [("median", "avg"), ("loss", "sum")],
        None, None, (), 3600,
    ).collect()
    dt = time.perf_counter() - t0
    if not out:
        raise RuntimeError("fresh read returned no rows")
    return dt


def ingest_phase(spark, batches, dirs, fresh_labels, subs, query, spans):
    """Write the measured batches on a fixed schedule.  Once every
    subscriber has a batch's PUSH, a fresh read of the table being written
    runs before the next batch is due; a read that overruns makes the
    generator late, and the lag, timed from the due time, counts it."""
    sched = common.OpenLoop(time.perf_counter() + 0.05, BATCH_INTERVAL)
    fresh_ms: list[float] = []
    errors: list[str] = []
    for i, batch in enumerate(batches[WARM_BATCHES:]):
        sched.wait(i, clock=time.perf_counter)
        datagen.write_json_lines(
            os.path.join(dirs["incoming"], f"b{i + WARM_BATCHES:06d}.json"),
            batch, dirs["staging"],
        )
        sched.mark_sent(i, time.perf_counter())
        ts = batch[0]["timestamp"]
        wait_for(lambda ts=ts: all(s.got_push(ts) for s in subs), WAIT_S,
                 f"the PUSH of batch {i + WARM_BATCHES}", query)
        try:
            fresh_ms.append(1e3 * fresh_read(spark, dirs["fact"], fresh_labels, spans))
        except Exception as exc:  # a failed read is a failed operation
            errors.append(f"fresh read: {type(exc).__name__}: {str(exc)[:200]}")
    return sched, fresh_ms, errors


def expected_export(spark, server, kind: str, req: dict) -> list[dict]:
    """The operator the server runs for this request, called directly."""
    from nntsc_spark.operators.aggregate import select_aggregated_data
    from nntsc_spark.operators.labels import build_label_map
    from nntsc_spark.operators.matrix import select_matrix_data
    from nntsc_spark.operators.select import select_data

    coll = server.collections[req["collection"]]
    if kind == "streams":
        df = coll["streams"].where(f"stream_id > {int(req['minid'])}")
    elif kind == "matrix":
        df = select_matrix_data(coll["fact"], build_label_map(spark, req["labels"]),
                                req["value_cols"], req["start"], req["stop"])
    elif kind.startswith("agg"):
        df = select_aggregated_data(coll["fact"], build_label_map(spark, req["labels"]),
                                    req["aggcols"], req["start"], req["stop"], (),
                                    req["binsize"])
    else:
        df = select_data(coll["fact"], build_label_map(spark, req["labels"]),
                         req["columns"], req["start"], req["stop"])
    return [r.asDict() for r in df.collect()]


# -- the workload -----------------------------------------------------------------


def run(spark_factory, seed: int, seconds: int, trace: bool, res: common.Result):
    from nntsc_spark import storage
    from nntsc_spark.export.protocol import Msg
    from nntsc_spark.export import server as srv_mod
    from nntsc_spark.ingest.amp_icmp import UNIQUE_COLS, process_icmp
    from nntsc_spark.sources.tables import events_fact
    from nntsc_spark.streaming import ingest as ingest_mod
    from nntsc_spark.streaming.ingest import CollectionIngestor

    data_dir = os.path.join(common.WORK, "data")
    dirs = {k: os.path.join(common.WORK, "ingest", k) for k in
            ("incoming", "staging", "fact", "streams", "stats", "ckpt")}
    for k in ("incoming", "staging"):
        os.makedirs(dirs[k], exist_ok=True)
    spans = tr.Spans()
    seconds_a = max(1.0, seconds * EXPORT_SHARE)
    n_live = max(MIN_LIVE, int((seconds - seconds_a) / BATCH_INTERVAL))
    batches = datagen.icmp_batches(seed, WARM_BATCHES + n_live, INGEST_ROWS,
                                   INGEST_STREAMS)

    # -- set-up: session, data, server, warm requests, stream, subscribers --
    t_setup = time.monotonic()
    spark = spark_factory()
    marks = [time.monotonic()]
    datagen.write_tables(data_dir, seed, {"events": EVENTS})
    user_ids = sorted(set(
        pq.read_table(os.path.join(data_dir, "events.parquet"),
                      columns=["user_id"]).column(0).to_pylist()))
    streams_dim = spark.createDataFrame(
        [(s, "amp", f"dst{s}", "ipv4" if s % 2 == 0 else "ipv6", "84")
         for s in user_ids],
        "stream_id long, source string, destination string, family string, "
        "packet_size string",
    )
    server = srv_mod.ExportServer(
        spark, {"events": {"fact": events_fact(spark, data_dir), "streams": streams_dim}}
    )
    server.start()
    requests = make_requests(seed, user_ids)

    # the stream starts first, so its cold first batch overlaps the export
    # warm-up
    ing = CollectionIngestor(
        spark, process_icmp, UNIQUE_COLS, dirs["fact"], dirs["streams"],
        dirs["stats"], collection="amp-icmp", exporter=server,
    )
    raw = (
        spark.readStream.schema(datagen.ICMP_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(dirs["incoming"])
    )
    datagen.write_json_lines(
        os.path.join(dirs["incoming"], "b000000.json"), batches[0], dirs["staging"]
    )
    query = ing.start_stream(raw, dirs["ckpt"], trigger_available_now=False)
    subs: list[Subscriber] = []
    try:
        # every request kind runs cold once, the clients sharing the cycle
        _, warm_errs, _, _ = export_phase(server.port, requests, 0, warm=True)
        if warm_errs:
            raise RuntimeError(f"export warm-up failed: {warm_errs}")
        marks.append(time.monotonic())
        wait_for(lambda: storage.read_dimension(spark, dirs["streams"]) is not None
                 and os.path.isdir(dirs["fact"]) and query.lastProgress is not None,
                 WAIT_S, "the first ingest batch", query)
        sid_of = {
            r["destination"]: r["stream_id"]
            for r in storage.read_dimension(spark, dirs["streams"]).collect()
        }
        server.collections["amp-icmp"] = {
            "fact": storage.read_fact(spark, dirs["fact"]),
            "streams": storage.read_dimension(spark, dirs["streams"]),
        }
        sids = sorted(sid_of.values())
        subs = [
            Subscriber(server.port, {f"L{s}": [s] for s in sids[i::SUBSCRIBERS]})
            for i in range(SUBSCRIBERS)
        ]
        # second warm-up batch: the first one that fans out to subscribers
        datagen.write_json_lines(
            os.path.join(dirs["incoming"], "b000001.json"), batches[1], dirs["staging"]
        )
        warm_ts = batches[1][0]["timestamp"]
        wait_for(lambda: all(s.got_push(warm_ts) for s in subs), WAIT_S,
                 "the warm-up PUSH", query)
        fresh_labels = {"f0": sids[0::2][:5], "f1": sids[1::2][:5]}
        fresh_read(spark, dirs["fact"], fresh_labels, tr.Spans())
        setup_s = time.monotonic() - t_setup
        marks.append(t_setup + setup_s)
        for key, t0, t1 in zip(("spark", "export", "ingest"), [t_setup] + marks, marks):
            res.detail[f"setup.{key}_s"] = (t1 - t0, "s")

        # -- phase A: export mix ---------------------------------------------
        mark_a = time.time() * 1000
        with tr.instruments(trace, _export_wrappers(srv_mod, server, spans)):
            done, client_errs, elapsed_a, decode_s = export_phase(
                server.port, requests, seconds_a)
        mark_b = time.time() * 1000
        export_spans = (dict(spans.calls), dict(spans.secs))
        spans.reset()

        # -- phase B: open-loop live ingest ------------------------------------
        with tr.instruments(trace, _ingest_wrappers(ingest_mod, server, ing, spans)):
            sched, fresh_ms, fresh_errs = ingest_phase(
                spark, batches, dirs, fresh_labels, subs, query, spans)
        mark_c = time.time() * 1000
        res.end_measurement()
        progress = list(query.recentProgress)
        n_persist, persist_bytes = tr.persisted(spark) if trace else (0, 0)
    finally:
        query.stop()
        for s in subs:
            s.close()
        server.stop()

    # -- correctness, outside the timed phases -----------------------------------
    t_check = time.monotonic()
    res.attempted += len(done) + len(client_errs)
    for e in client_errs + fresh_errs:
        res.fail(e)
    expected_rows: dict[str, list[dict]] = {}
    for rec in done:
        key = rec["kind"] + repr(rec["req"])
        if key not in expected_rows:
            expected_rows[key] = expected_export(spark, server, rec["kind"], rec["req"])
        errs = check_export(rec["kind"], rec["req"], rec["frames"], expected_rows[key])
        if errs:
            res.fail("; ".join(errs))
        rec["frames"] = None
    stored = {
        (r["destination"], r["timestamp"]): (r["median"], r["loss"], r["results"])
        for r in storage.read_fact(spark, dirs["fact"])
        .join(storage.read_dimension(spark, dirs["streams"]), "stream_id")
        .select("destination", "timestamp", "median", "loss", "results")
        .collect()
    }
    sub_view = [
        {"streams": s.streams, "live": s.live, "push": [ts for ts, _ in s.push]}
        for s in subs
    ]
    for i, s in enumerate(subs):
        for mtype, body in s.other:
            if mtype == Msg.ERROR:
                res.fail(f"subscriber {i}: ERROR frame {body}")
    res.attempted += n_live + len(fresh_ms) + len(fresh_errs)
    # subscribers joined after the first warm-up batch
    for e in check_ingest(expected_icmp(batches), expected_icmp(batches[1:]), stored,
                          sub_view, [b[0]["timestamp"] for b in batches[1:]], sid_of):
        res.fail(e)
    res.notes["check_s"] = round(time.monotonic() - t_check, 2)

    # -- metrics -------------------------------------------------------------------
    lat: dict[str, list[float]] = {k: [] for k in KINDS}
    first, rows = [], 0
    for rec in done:
        lat[rec["kind"]].append(rec["last"] - rec["send"])
        first.append(rec["first"] - rec["send"])
        rows += rec["rows"]
    all_lat = [x for v in lat.values() for x in v]
    lags, late = [], []
    for i in range(n_live):
        ts = batches[WARM_BATCHES + i][0]["timestamp"]
        arrive = max(t for s in subs for t2, t in s.push if t2 == ts)
        lags.append(sched.latency(i, arrive))
        late.append(sched.lateness(i))
    kind_medians = {k: common.median(v) for k, v in lat.items() if v}
    work = sum(kind_medians.values()) + common.median(lags)
    if fresh_ms:
        work += common.median(fresh_ms) / 1e3
    res.end_to_end.update(
        {
            "setup_s": (setup_s, "s"),
            "work_s": (work, "s"),
            "op_geomean_ms": (common.geomean(kind_medians.values()) * 1e3, "ms"),
            "delivered_rows_per_s": (rows / elapsed_a, "rows/s"),
        }
    )
    d = res.detail
    d["request_p50_ms"] = (common.median(all_lat) * 1e3, "ms")
    q_tail = common.highest_tail(len(all_lat), candidates=(95, 90, 75, 50))
    d["request_p95_ms"] = (common.percentile(all_lat, 95) * 1e3, "ms")
    d["first_frame_p50_ms"] = (common.median(first) * 1e3, "ms")
    d["delivered_rows_per_s"] = (rows / elapsed_a, "rows/s")
    d["requests"] = (float(len(done)), "count")
    for k, v in kind_medians.items():
        d[f"request.{k}_p50_ms"] = (v * 1e3, "ms")
        d[f"request.{k}_n"] = (float(len(lat[k])), "count")
    d["live_lag_p50_ms"] = (common.median(lags) * 1e3, "ms")
    d["live_lag_p90_ms"] = (common.percentile(lags, 90) * 1e3, "ms")
    d["live_batches"] = (float(n_live), "count")
    if fresh_ms:
        d["fresh_query_p50_ms"] = (common.median(fresh_ms), "ms")
        d["fresh_queries"] = (float(len(fresh_ms)), "count")
    d["bench.generator_late_ms"] = (common.median(late) * 1e3, "ms")
    d["export.client_decode_s"] = (decode_s, "s")
    res.notes["tail_support"] = {
        "requests": len(all_lat),
        "highest_request_pct_with_10_beyond": q_tail,
        "live_batches": n_live,
        "highest_lag_pct_with_10_beyond": common.highest_tail(n_live, (90, 75, 50)),
    }
    res.notes["ops"] = ("export request: frame sent -> terminating frame; "
                        "live batch: due time -> PUSH at the last subscriber")
    if trace:
        _layer_metrics(res, export_spans, spans, progress, dirs, rows, len(done),
                       n_persist, persist_bytes)
        res.notes["windows_ms"] = (mark_a, mark_b, mark_c)
    data = {"sf": 0.1, "events": EVENTS, "ingest_rows_per_batch": INGEST_ROWS,
            "ingest_streams": INGEST_STREAMS, "batch_interval_s": BATCH_INTERVAL,
            "live_batches": n_live}
    res.notes["data"] = data
    return spark, data


# -- traced-run instruments -----------------------------------------------------------


class _FirstRow:
    """Per-thread clock from request dispatch to its first ``Row.asDict``."""

    def __init__(self, spans: tr.Spans) -> None:
        self.local = threading.local()
        self.spans = spans

    def start(self) -> None:
        self.local.t0 = time.perf_counter()

    def row(self) -> None:
        t0 = getattr(self.local, "t0", None)
        if t0 is not None:
            self.spans.add("export.first_row", time.perf_counter() - t0)
            self.local.t0 = None


def _export_wrappers(srv_mod, server, spans: tr.Spans) -> list:
    from pyspark.sql import Row

    first = _FirstRow(spans)
    real_pack = srv_mod.pack
    real_as_dict = Row.asDict
    real_dispatch = server._dispatch

    def pack(mtype, body):
        t0 = time.perf_counter()
        out = real_pack(mtype, body)
        spans.add("export.pack", time.perf_counter() - t0)
        spans.add("export.frame_bytes", 0.0, len(out))
        return out

    def as_dict(self, recursive=False):
        first.row()
        t0 = time.perf_counter()
        out = real_as_dict(self, recursive)
        spans.add("export.row_to_dict", time.perf_counter() - t0)
        return out

    def dispatch(sock, mtype, body):
        first.start()
        t0 = time.perf_counter()
        try:
            return real_dispatch(sock, mtype, body)
        finally:
            spans.add("export.dispatch", time.perf_counter() - t0)

    out = [
        tr.patched(srv_mod, "pack", pack),
        tr.patched(Row, "asDict", as_dict),
        tr.patched(server, "_dispatch", dispatch),
        tr.patched(server, "_ship_history",
                   spans.wrap("export.ship_history", server._ship_history)),
    ]
    for name in ("select_aggregated_data", "select_data", "select_matrix_data",
                 "build_label_map"):
        out.append(tr.patched(srv_mod, name,
                              spans.wrap("operators.plan_build", getattr(srv_mod, name))))
    return out


def _ingest_wrappers(ingest_mod, server, ing, spans: tr.Spans) -> list:
    out = [
        tr.patched(ing, "process_batch", spans.wrap("streaming.batch", ing.process_batch)),
        tr.patched(ing, "parser", spans.wrap("ingest.process_icmp", ing.parser)),
        tr.patched(server, "publish_live",
                   spans.wrap("export.publish_live", server.publish_live)),
        tr.patched(server, "push_marker",
                   spans.wrap("export.publish_live", server.push_marker)),
    ]
    for name, key in (("write_fact", "storage.write_fact"),
                      ("write_dimension", "storage.write_dimension"),
                      ("upsert_streams", "ingest.upsert_streams")):
        out.append(tr.patched(ingest_mod, name, spans.wrap(key, getattr(ingest_mod, name))))
    return out


def _layer_metrics(res, export_spans, spans, progress, dirs, rows, n_req,
                   n_persist, persist_bytes) -> None:
    from nntsc_spark import storage

    calls_a, secs_a = export_spans
    calls_b, secs_b = dict(spans.calls), dict(spans.secs)
    pl, d = res.per_layer, res.detail
    pl["plans.construct_s"] = (
        secs_a.get("operators.plan_build", 0.0)
        + secs_b.get("ingest.process_icmp", 0.0)
        + secs_b.get("ingest.upsert_streams", 0.0), "s")
    pl["spark.deliver_s"] = (secs_a.get("export.dispatch", 0.0)
                             - secs_a.get("operators.plan_build", 0.0), "s")
    pl["spark.result_rows"] = (float(rows), "count")
    pl["spark.persisted_rdds_end"] = (float(n_persist), "count")
    pl["spark.persisted_bytes_end"] = (float(persist_bytes), "bytes")

    def per_call_ms(secs, calls, key):
        return (1e3 * secs.get(key, 0.0) / max(1, calls.get(key, 0)), "ms")

    d["operators.plan_build_ms"] = per_call_ms(secs_a, calls_a, "operators.plan_build")
    d["export.first_row_ms"] = per_call_ms(secs_a, calls_a, "export.first_row")
    d["export.row_to_dict_s"] = (secs_a.get("export.row_to_dict", 0.0), "s")
    d["export.pack_s"] = (secs_a.get("export.pack", 0.0), "s")
    d["export.frames"] = (float(calls_a.get("export.pack", 0)), "count")
    d["export.frame_bytes"] = (float(calls_a.get("export.frame_bytes", 0)), "bytes")
    d["export.rows_per_request"] = (rows / max(1, n_req), "count")
    d["export.ship_history_s"] = (secs_a.get("export.ship_history", 0.0), "s")
    n_batch = max(1, calls_b.get("streaming.batch", 0))
    for key in ("streaming.batch", "storage.write_fact", "storage.write_dimension",
                "export.publish_live", "ingest.process_icmp", "ingest.upsert_streams"):
        d[f"{key}_ms"] = (1e3 * secs_b.get(key, 0.0) / n_batch, "ms")
    d["storage.read_fact_ms"] = per_call_ms(secs_b, calls_b, "storage.read_fact")
    d["storage.fact_files_end"] = (
        float(sum(p["n_files"] for p in storage.fact_stats(dirs["fact"]))), "count")
    for field in ("triggerExecution", "addBatch", "walCommit", "getBatch"):
        vals = [p["durationMs"].get(field, 0) for p in progress
                if p.get("numInputRows", 0) > 0 and "durationMs" in p]
        if vals:
            d[f"streaming.progress.{field}_ms"] = (common.median(vals), "ms")


def spark_layer_totals(jobs, tasks, res: common.Result, n_ops: int) -> None:
    """Event-log totals over the two measured phases, split by the
    submission time of each job."""
    a, b, c = res.notes.pop("windows_ms")
    tot = tr.spark_totals(jobs, tasks, lambda j: a <= j["submit_ms"] <= c)
    exp = tr.spark_totals(jobs, tasks, lambda j: a <= j["submit_ms"] <= b)
    live = tr.spark_totals(jobs, tasks, lambda j: b < j["submit_ms"] <= c)
    for k, v in tot.items():
        res.per_layer[k] = (v, tr.unit_of(k))
    res.per_layer["spark.jobs_per_op"] = (tot["spark.jobs"] / max(1, n_ops), "count")
    n_req = res.detail["requests"][0]
    res.detail["spark.jobs_per_request"] = (exp["spark.jobs"] / max(1, n_req), "count")
    res.detail["spark.jobs_per_batch"] = (
        live["spark.jobs"] / max(1, res.detail["live_batches"][0]), "count")
    for k in ("spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_bytes"):
        res.detail[f"{k}.export"] = (exp[k], tr.unit_of(k))
        res.detail[f"{k}.live"] = (live[k], tr.unit_of(k))
