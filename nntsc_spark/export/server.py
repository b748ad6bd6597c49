"""Export server: threaded TCP server answering the reference's protocol
with Spark-backed query execution.

Architecture parity with libnntsc/exporter.py:55-103: one listener, one
thread per client connection, worker execution per job; the per-label query
loop is gone (one Spark job covers all labels), and the dual-store
Postgres/Influx split is gone (one fact table).

Reference behaviors kept:

- history flushed in <=10,000-row HISTORY messages with ``more`` flag
  (exporter.py:434-445); streams in 1,000-row STREAMS batches
  (exporter.py:641-657)
- every label ends with HISTORY_DONE carrying last_ts (exporter.py:907-971)
- frequency estimate attached to each label's first history block
  (T9, export.frequency)
- SUBSCRIBE: history replay first; live rows arriving meanwhile are
  buffered per (client, stream) and released after HISTORY_DONE, dropping
  rows <= last history ts — the T2 seam dedup (exporter.py:1026-1052)
- live rows are column-filtered per subscription + forced label/timestamp
  (P6, exporter.py:1244-1256) and time-bounded (P7)
- PUSH markers fan out on ingest batch boundaries (T3,
  exporter.py:1304-1349)
"""

from __future__ import annotations

import queue
import socket
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..catalog import (
    collection_schema,
    list_collections,
    select_streams_by_collection,
)
from ..operators.aggregate import select_aggregated_data
from ..operators.labels import build_label_map
from ..operators.matrix import (
    HOUR,
    MINUTE,
    choose_rollup_binsize,
    select_matrix_data,
    select_matrix_from_stored,
)
from ..schemas import COLLECTIONS as SCHEMA_REGISTRY
from ..operators.select import select_data
from .frequency import estimate_frequency_rows
from .protocol import (
    CLIENTAPI_VERSION,
    FrameTooLarge,
    Msg,
    Req,
    pack,
    read_message,
)

HISTORY_FLUSH_ROWS = 10_000  # exporter.py:434-445
STREAMS_BATCH_ROWS = 1_000  # exporter.py:641-657
MAX_WORKERS = 2  # query workers per client (exporter.py:103)
LIVE_QUEUE_CAP = 1_000_000  # per-client send queue entries (exporter.py:1512)
SEND_TIMEOUT = 10  # seconds to wait on a full queue (exporter.py:1451)
#: announcement rounds an announced-but-never-published stream keeps its
#: first-live forwarding entry before it is expired (see announce_streams)
NEW_STREAM_GEN_CAP = 64


class QueryTimeout(Exception):
    """A history query exceeded the server's query_timeout and its Spark
    job group was cancelled (reference DB_QUERY_TIMEOUT)."""


class _ClientTx:
    """Per-client bounded send queue + sender thread.

    The reference gives every client a Queue(1,000,000) drained by its own
    thread (exporter.py:1510-1522), so a stalled client can never block
    other clients' sends — and when the queue fills (the client stopped
    reading for SEND_TIMEOUT seconds at capacity), the client is DROPPED:
    its socket is closed and the reader loop reaps its subscriptions
    (exporter.py:1449-1460).  Whole frames are enqueued, so interleaving
    across the client's query workers stays per-message.
    """

    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.q: "queue.Queue[bytes | None]" = queue.Queue(LIVE_QUEUE_CAP)
        self.dead = False
        self._thread = threading.Thread(target=self._drain, daemon=True)
        self._thread.start()

    def send(self, frame: bytes) -> bool:
        """Enqueue ``frame``; False when the client is gone or dropped."""
        if self.dead:
            return False
        try:
            self.q.put(frame, True, SEND_TIMEOUT)
            return True
        except queue.Full:
            # reference: "Client queue has filled up!" -> drop the client.
            # shutdown() (not just close()) wakes the reader thread blocked
            # in recv, whose finally-block then reaps the subscriptions —
            # the reliable version of the reference's "hope the thread
            # picks up that we closed its socket" (exporter.py:1452-1456)
            self.dead = True
            try:
                self.sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                self.sock.close()
            except OSError:
                pass
            return False

    def close(self) -> None:
        self.dead = True
        try:
            self.q.put_nowait(None)
        except Exception:
            pass
        # flush frames enqueued before close (e.g. the final ERROR on a
        # protocol violation) before the caller closes the socket; bounded
        # join — a stalled client's backlog dies with its socket anyway
        self._thread.join(timeout=SEND_TIMEOUT)

    def _drain(self) -> None:
        while True:
            frame = self.q.get()
            if frame is None:
                return
            try:
                self.sock.sendall(frame)
            except OSError:
                self.dead = True
                return


def merge_aggregators(
    columns: list[str], func: str | list[str]
) -> list[tuple[str, str]]:
    """Combine aggcols + aggfunc into (col, func) pairs
    (exporter.py:155-172): a single function string (or 1-list) applies to
    every column; otherwise functions pair positionally."""
    if isinstance(func, str):
        return [(c, func) for c in columns]
    if len(func) == 1:
        return [(c, func[0]) for c in columns]
    return list(zip(columns, func))


@dataclass
class Subscription:
    sock: socket.socket
    colname: str
    stream_ids: set[int]
    columns: list[str] | None
    start: int | None
    end: int | None
    waiting: bool = True  # history replay in progress
    buffered: list[tuple[int, int, dict]] = field(default_factory=list)
    #: seam dedup is PER STREAM (reference exporter.py:1026-1052): a global
    #: max-across-labels would drop live rows for any stream whose history
    #: ends earlier than another's (r5 review finding)
    last_by_stream: dict[int, int] = field(default_factory=dict)


class ExportServer:
    """``collections``: name -> dict(fact=DataFrame, streams=DataFrame)."""

    def __init__(
        self,
        spark: SparkSession,
        collections: dict[str, dict[str, DataFrame]],
        host: str = "127.0.0.1",
        port: int = 0,
        query_timeout: int = 0,
    ) -> None:
        #: seconds before a history query is cancelled; 0 disables — the
        #: reference's -T/--querytimeout flag (nntsc:168) applied as a
        #: statement_timeout on every worker connection (database.py:256-257)
        self.query_timeout = query_timeout
        self.spark = spark
        self.collections = collections
        # default each collection's matrix rollup SPECS from the schema
        # registry's matrix_cq declarations (the reference ships these in
        # its parsers and builds Influx CQs from them, amp_icmp.py:72-79,
        # cqs.py:96-107 build_cqs) — standing up the matrix service needs
        # no per-deployment wiring.  Only the spec (binsize -> declared
        # columns) is recorded: a registry-defaulted collection serves
        # MATRIX through the request-time filtered build (time_filter over
        # the raw fact with a parquet-prunable timestamp range), NOT a
        # pre-declared rollup plan over the FULL unfiltered fact — a lazy
        # full-fact rollup would re-aggregate the collection's entire
        # history per request because merge_rollup's derived binstart
        # predicate cannot prune row groups (the r5 finding; r14 ADVICE).
        # Production passes an explicit "rollups" entry holding MAINTAINED
        # tables (streaming.rollup) built to these specs; that stored path
        # always wins.
        for name, coll in self.collections.items():
            cs = SCHEMA_REGISTRY.get(name)
            if "fact" not in coll or cs is None:
                continue
            cols = [
                c for c in cs.rollup_value_cols if c in coll["fact"].columns
            ]
            if cols and "rollup_specs" not in coll:
                coll["rollup_specs"] = {b: list(cols) for b in (MINUTE, HOUR)}
        self._srv = socket.create_server((host, port))
        self.port = self._srv.getsockname()[1]
        #: per-client bounded send queues (reference exporter.py:1510-1522)
        self._tx: dict[socket.socket, _ClientTx] = {}
        self._subs: list[Subscription] = []
        #: collection-interest registry (reference self.collections,
        #: exporter.py:1294-1302): sockets that issued a STREAMS request
        #: for a collection get live new-stream announcements for it
        #: (registration path: worker returns NNTSC_REGISTER_COLLECTION
        #: after serving STREAMS, exporter.py:1118-1119)
        self._interest: dict[str, set[socket.socket]] = {}
        #: freshly announced streams whose FIRST live batch is forwarded
        #: to the announced sockets even though no subscription names the
        #: stream yet (reference self.newstreams, exporter.py:1371-1406,
        #: consumed at :1466-1484 with tosend=1 then deleted)
        self._new_streams: dict[int, dict] = {}
        #: monotonically increasing announce-round counter used to expire
        #: never-publishing _new_streams entries (r14 verdict task 7)
        self._announce_gen = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> None:
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def stop(self) -> None:
        self._stop.set()
        self._srv.close()

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                sock, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(
                target=self._client_loop, args=(sock,), daemon=True
            ).start()

    def _client_loop(self, sock: socket.socket) -> None:
        """Per-client reader feeding a small query-worker pool.

        The reference runs MAX_WORKERS(=2) DB workers per client
        (exporter.py:103), so one slow history query never blocks the
        client's next request; responses interleave as whole frames (every
        message carries collection/label, the client demuxes).  _send
        serializes frame writes, so interleaving is per-message, never
        mid-frame.  Each worker thread sets its own Spark job group inside
        _query_guard — job groups are thread-local, so concurrent queries
        cancel independently.
        """
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(
            max_workers=MAX_WORKERS, thread_name_prefix="nntsc-export-worker"
        )
        tx = _ClientTx(sock)
        with self._lock:
            self._tx[sock] = tx
        # version handshake: the FIRST frame on every connection tells the
        # client what client-API version it needs (exporter.py:1150-1156);
        # enqueued before the reader loop starts, so it precedes any
        # response frame
        self._send(sock, Msg.VERSION_CHECK, CLIENTAPI_VERSION)
        try:
            while True:
                try:
                    msg = read_message(sock)
                except OSError:
                    # client reset mid-frame: same as a clean disconnect
                    return
                except FrameTooLarge as e:
                    # hostile/buggy frame (oversized or decompression
                    # bomb): tell the client once, then drop it — the
                    # stream is not resynchronizable past a bad frame
                    self._send(sock, Msg.ERROR, {"error": str(e)})
                    return
                if msg is None:
                    return
                mtype, body = msg
                if mtype == Msg.UNSUBSCRIBE:
                    # handled inline in the reader, NOT queued behind the
                    # worker pool (reference client_message dispatches
                    # UNSUBSCRIBE before the job queue, exporter.py:982):
                    # the drop takes effect immediately even while a long
                    # history query occupies both workers.  The inline
                    # path sits outside _run_request's guard, so report
                    # a malformed body as an ERROR frame here instead of
                    # letting it kill the reader (and the connection)
                    try:
                        self._handle_unsubscribe(sock, body)
                    except Exception as e:
                        self._send(sock, Msg.ERROR, {"error": str(e)})
                    continue
                pool.submit(self._run_request, sock, mtype, body)
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
            tx.close()
            with self._lock:
                self._tx.pop(sock, None)
                self._subs = [s for s in self._subs if s.sock is not sock]
                for socks in self._interest.values():
                    socks.discard(sock)
                for ns in self._new_streams.values():
                    if sock in ns["socks"]:
                        ns["socks"].remove(sock)
            sock.close()

    def _run_request(self, sock: socket.socket, mtype: Msg, body) -> None:
        try:
            self._dispatch(sock, mtype, body)
        except Exception as e:  # report, keep the connection
            self._send(sock, Msg.ERROR, {"error": str(e)})

    def _send(self, sock: socket.socket, mtype: Msg, body: object) -> bool:
        """Enqueue one whole frame on the client's bounded send queue.

        Never blocks on the client's socket (a stalled client fills its own
        queue and gets dropped — see _ClientTx); clients are fully isolated
        from each other.  A send after the client is gone is a no-op that
        returns False, so multi-frame replies can stop pulling rows for
        nobody; the reader loop reaps its subscriptions.
        """
        with self._lock:
            tx = self._tx.get(sock)
        if tx is not None:
            return tx.send(pack(mtype, body))
        try:  # sockets outside a client loop (tests, internal probes)
            sock.sendall(pack(mtype, body))
            return True
        except OSError:
            return False

    def _send_blocks(
        self, sock: socket.socket, mtype: Msg, head: dict, key: str,
        df: DataFrame, size: int,
    ) -> None:
        """Frame ``df``'s rows as ``{**head, key: block, "more": ...}``:
        full ``size``-row blocks with more=True, then one last block,
        possibly empty, with more=False (exporter.py:434-445, 641-657).
        toLocalIterator keeps one block driver-side (the reference's cursor
        fetchmany, dbselect.py:853-880); the loop stops at the first block
        the client is no longer there to receive."""
        block: list[dict] = []
        for row in df.toLocalIterator():
            block.append(row.asDict())
            if len(block) >= size:
                frame = {**head, key: block, "more": True}
                if not self._send(sock, mtype, frame):
                    return
                block = []
        self._send(sock, mtype, {**head, key: block, "more": False})

    # -- dispatch ----------------------------------------------------------

    def _dispatch(self, sock: socket.socket, mtype: Msg, body) -> None:
        if mtype == Msg.REQUEST:
            self._handle_request(sock, body)
        elif mtype == Msg.AGGREGATE:
            self._handle_aggregate(sock, body)
        elif mtype == Msg.SUBSCRIBE:
            self._handle_subscribe(sock, body)
        elif mtype == Msg.MATRIX:
            self._handle_matrix(sock, body)
        elif mtype == Msg.PERCENTILE:
            # the reference logs "we don't support that anymore" and
            # returns DBWORKER_BADJOB without informing the client
            # (exporter.py:144-148 — the XXX asks whether it could); here
            # the client is told explicitly, as a distinct, polite reply
            # rather than the generic bad-msgtype fallthrough
            self._send(
                sock,
                Msg.ERROR,
                {"error": "percentile requests are no longer supported"},
            )
        else:
            self._send(sock, Msg.ERROR, {"error": f"bad msgtype {mtype}"})

    def _handle_request(self, sock: socket.socket, body) -> None:
        req = Req(body["request"])
        if req == Req.COLLECTIONS:
            # same iterator discipline as the streams/history paths:
            # rows stream through toLocalIterator (partition-at-a-time)
            # instead of a collect().  The catalog is 14 rows today, so
            # the reply stays one message — but no framing path keeps a
            # collect() for a table whose size is a catalog property
            rows = [
                r.asDict()
                for r in list_collections(self.spark).toLocalIterator()
            ]
            self._send(sock, Msg.COLLECTIONS, rows)
        elif req == Req.SCHEMAS:
            self._send(
                sock,
                Msg.SCHEMAS,
                {"collection": body["collection"],
                 **collection_schema(body["collection"])},
            )
        elif req == Req.STREAMS:
            streams = self.collections[body["collection"]]["streams"]
            minid = body.get("minid", 0)
            # a STREAMS request registers this client's interest in the
            # collection: streams created AFTER this reply are announced
            # live instead of waiting for the client's next minid poll
            # (reference NNTSC_REGISTER_COLLECTION, exporter.py:1118-1119,
            # register_collection at :1294-1302)
            with self._lock:
                self._interest.setdefault(body["collection"], set()).add(sock)
            # block framing: the streams dimension is usually small, but a
            # collection with hundreds of thousands of streams must not
            # materialize driver-side (reference pages this via minid
            # batches, exporter.py:641-657)
            self._send_blocks(
                sock,
                Msg.STREAMS,
                {"collection": body["collection"]},
                "streams",
                select_streams_by_collection(streams, minid),
                STREAMS_BATCH_ROWS,
            )

    # -- query timeout (admission) ------------------------------------------

    @contextmanager
    def _query_guard(self):
        """Cancel this request's Spark jobs after ``query_timeout`` seconds.

        Spark-native statement_timeout: the client thread tags its jobs
        with a job group (job groups are driver-thread-local, and each
        client loop runs in its own thread, so the tag is per-request) and
        a timer cancels the whole group on expiry — every task of every
        job this request spawned is interrupted, exactly like the
        reference's per-connection ``statement_timeout``
        (database.py:256-257).  Raises :class:`QueryTimeout`.
        """
        if not self.query_timeout:
            yield
            return
        sc = self.spark.sparkContext
        group = f"nntsc-export-{uuid.uuid4().hex[:8]}"
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            sc.cancelJobGroup(group)

        sc.setJobGroup(group, "nntsc export query", interruptOnCancel=True)
        timer = threading.Timer(self.query_timeout, cancel)
        timer.daemon = True
        timer.start()
        try:
            yield
        except Exception as e:
            if fired.is_set():
                raise QueryTimeout(group) from e
            raise
        finally:
            timer.cancel()

    def _cancel_history(
        self, sock: socket.socket, colname: str, labels, start, stop
    ) -> None:
        """Reference _cancel_history (exporter.py:362-378): tell the client
        the missing range is a TIMEOUT, not an absence of data, then close
        out each label with last_ts=0."""
        self._send(
            sock,
            Msg.QUERY_CANCELLED,
            {"collection": colname, "labels": list(labels),
             "start": start, "stop": stop, "more": False},
        )
        for label in labels:
            self._send(
                sock,
                Msg.HISTORY_DONE,
                {"collection": colname, "label": label, "last_ts": 0},
            )

    # -- history delivery ---------------------------------------------------

    def _ship_history(
        self, sock: socket.socket, colname: str, df: DataFrame, binsize: int
    ) -> dict[str, int]:
        """Stream per-label history in flush-sized blocks; returns last ts
        per label.  Uses toLocalIterator so the driver never holds the full
        result (O6 bounded-memory delivery), and stops at the first flush
        the client is no longer there to receive."""
        last_ts: dict[str, int] = {}
        pending: dict[str, list[dict]] = {}
        freqs: dict[str, int] = {}

        def flush(label: str, more: bool) -> bool:
            rows = pending.pop(label, [])
            if label not in freqs:
                freqs[label] = estimate_frequency_rows(
                    [r["timestamp"] for r in rows], binsize or None
                )
            return self._send(
                sock,
                Msg.HISTORY,
                {
                    "collection": colname,
                    "label": label,
                    "history": rows,
                    "more": more,
                    "freq": freqs[label],
                },
            )

        seen: set[str] = set()
        for row in df.toLocalIterator():
            d = row.asDict()
            label = d["nntsclabel"]
            seen.add(label)
            pending.setdefault(label, []).append(d)
            last_ts[label] = max(last_ts.get(label, 0), d["timestamp"] or 0)
            if len(pending[label]) >= HISTORY_FLUSH_ROWS:
                if not flush(label, more=True):
                    return last_ts
        # terminate EVERY label that shipped anything, not just those with
        # a partial block pending: a label whose row count is an exact
        # multiple of the flush size left pending empty after its
        # more=True flush, and clients looping "read until more == False"
        # would hang on the missing terminator (reference always closes
        # with more=False, exporter.py:434-445; r5 review finding)
        for label in seen:
            flush(label, more=False)
        return last_ts

    def _serve_history(
        self, sock: socket.socket, colname: str, labels, df: DataFrame,
        binsize: int, start, stop,
    ) -> dict[str, int] | None:
        """Ship ``df`` as history under the query timeout, then end every
        label with HISTORY_DONE carrying its last shipped ts
        (exporter.py:907-971).  Returns those ts per label, or None after
        a timeout, when _cancel_history has sent the terminators instead."""
        try:
            with self._query_guard():
                last = self._ship_history(sock, colname, df, binsize)
        except QueryTimeout:
            self._cancel_history(sock, colname, labels, start, stop)
            return None
        for label in labels:
            self._send(
                sock,
                Msg.HISTORY_DONE,
                {"collection": colname, "label": label,
                 "last_ts": last.get(label, 0)},
            )
        return last

    def _default_window(self, body) -> tuple[int, int]:
        """P5: stop defaults to now, start to stop - 24 h when omitted
        (libnntsc/dbselect.py:263-267)."""
        stop = body.get("stop") or int(time.time())
        start = body.get("start") or stop - 86400
        return start, stop

    def _empty_history(
        self, sock: socket.socket, colname: str, labels, last_ts: int
    ) -> None:
        """Reference guard reply (exporter.py:182-189, 249-255, 289-293):
        when there can be no historical data, every label still gets an
        empty HISTORY block and its HISTORY_DONE."""
        for label in labels:
            self._send(
                sock,
                Msg.HISTORY,
                {"collection": colname, "label": label, "history": [],
                 "more": False, "freq": 0},
            )
            self._send(
                sock,
                Msg.HISTORY_DONE,
                {"collection": colname, "label": label, "last_ts": last_ts},
            )

    def _handle_aggregate(self, sock: socket.socket, body) -> None:
        colname = body["collection"]
        fact = self.collections[colname]["fact"]
        now = int(time.time())
        if body.get("start") is None or body["start"] >= now:
            self._empty_history(sock, colname, body["labels"], now)
            return
        start, stop = self._default_window(body)
        binsize = body.get("binsize", 300)
        out = select_aggregated_data(
            fact,
            build_label_map(self.spark, body["labels"]),
            body["aggcols"],
            start,
            stop,
            body.get("groupcols", ()),
            binsize,
        )
        self._serve_history(
            sock, colname, body["labels"], out, binsize, start, stop
        )

    def _handle_matrix(self, sock: socket.socket, body) -> None:
        colname = body["collection"]
        coll = self.collections[colname]
        start, stop = body["start"], body["stop"]
        now = int(time.time())
        if start is None or start >= now:
            self._empty_history(sock, colname, body["labels"], now)
            return
        binsize = choose_rollup_binsize(start, stop)
        stored = coll.get("rollups", {}).get(binsize)
        if stored is not None and any(
            f"{stat}_{c}" not in stored.columns
            for c in body["value_cols"]
            for stat in ("mean", "magiccount", "sum", "max", "min", "stddev")
        ):
            # the stored rollup does not cover every requested column with
            # every stat merge_rollup consumes (request outside the
            # collection's declared matrix_cq set, or an externally
            # maintained table missing e.g. magiccount_/stddev_): fall
            # back to the inline build rather than failing the merge with
            # an unresolved-column error (r14 ADVICE)
            stored = None
        if stored is not None:
            # production path: stored rollup (Influx CQ table analogue,
            # influx.py:384-394) — never touches the raw fact
            out = select_matrix_from_stored(
                stored,
                build_label_map(self.spark, body["labels"]),
                body["value_cols"],
                start,
                stop,
                binsize,
            )
        else:
            out = select_matrix_data(
                coll["fact"],
                build_label_map(self.spark, body["labels"]),
                body["value_cols"],
                start,
                stop,
            )
        # block framing: matrix rows are per-(label, bin), so a wide label
        # set over a long range is genuinely unbounded
        try:
            with self._query_guard():
                self._send_blocks(
                    sock,
                    Msg.HISTORY,
                    {"collection": colname},
                    "matrix",
                    out,
                    HISTORY_FLUSH_ROWS,
                )
        except QueryTimeout:
            self._cancel_history(sock, colname, body["labels"], start, stop)

    def _release_live(self, sub: Subscription) -> None:
        """Drain a subscription's buffered live rows, then unblock direct
        forwarding — preserving per-stream order at the history/live seam.

        ``waiting`` stays True while the backlog drains, so publish_live
        keeps buffering concurrent rows behind the ones being sent; only
        when the buffer is observed empty UNDER the lock does waiting flip
        to False (atomically with that observation).  Flipping first and
        draining outside the lock — the previous shape — let a fresh PUSH
        overtake older buffered rows for the same stream (r5 advice
        finding; reference ordering contract exporter.py:907-971).
        """
        while True:
            with self._lock:
                if not sub.buffered:
                    sub.waiting = False
                    return
                buffered, sub.buffered = sub.buffered, []
            for _colid, sid, row in buffered:
                # None bound = no history shipped for this stream -> no
                # seam to dedup against: forward unconditionally (a 0
                # default silently dropped legitimate ts-0/None rows on
                # the no-history path — r6 advice finding)
                bound = sub.last_by_stream.get(sid)
                if bound is None or (row.get("timestamp") or 0) > bound:
                    self._send_live(sub, sid, row)

    def _handle_subscribe(self, sock: socket.socket, body) -> None:
        colname = body["collection"]
        fact = self.collections[colname]["fact"]
        labels: dict[str, list[int]] = body["labels"]
        sub = Subscription(
            sock=sock,
            colname=colname,
            stream_ids={int(s) for ids in labels.values() for s in ids},
            columns=body.get("columns"),
            start=body.get("start"),
            end=body.get("end"),
        )
        # register BEFORE history runs so concurrent live rows buffer (T2)
        with self._lock:
            self._subs.append(sub)
        # exporter.py:284-293: start 0/None means "from now" -> live-only
        # subscription with an empty history replay (the live registration
        # above keeps the ORIGINAL start bound, exporter.py:876-891)
        now = int(time.time())
        hist_start = body.get("start") or now
        if hist_start >= now:
            self._empty_history(sock, colname, labels, hist_start)
            self._release_live(sub)  # no history -> seam bounds stay 0
            return
        aggs = body.get("aggs") or []
        if aggs:
            # aggregated subscription (exporter.py:335-345): history is the
            # binned aggregate at binsize=1 over (columns x aggs); the live
            # tail still carries raw rows
            out = select_aggregated_data(
                fact,
                build_label_map(self.spark, labels),
                merge_aggregators(body.get("columns") or [], aggs),
                body.get("start"),
                body.get("stop"),
                (),
                1,
            )
        else:
            out = select_data(
                fact,
                build_label_map(self.spark, labels),
                body.get("columns") or [],
                body.get("start"),
                body.get("stop"),
            )
        # None after a timeout: no seam bounds, the labels are closed
        last = self._serve_history(
            sock, colname, labels, out, 0, body.get("start"), body.get("stop")
        ) or {}
        # per-stream seam bounds: each stream inherits ITS label's history
        # end, so a lagging stream's live rows are never dropped against
        # another label's newer history (reference exporter.py:1026-1052).
        # Labels that shipped NO history record no bound at all — the seam
        # filter must not invent a 0 threshold that would drop ts-0 live
        # rows on a history-less stream (r6 advice finding)
        for label, sids in labels.items():
            if label not in last:
                continue
            for sid in sids:
                prev = sub.last_by_stream.get(int(sid))
                sub.last_by_stream[int(sid)] = (
                    last[label] if prev is None else max(prev, last[label])
                )  # a stream in several labels keeps its newest bound
        # release buffered live rows past the seam (exporter.py:907-971),
        # ordering-safe vs concurrent publish_live calls
        self._release_live(sub)

    def _handle_unsubscribe(self, sock: socket.socket, body) -> None:
        """Drop streams from this client's live subscriptions without
        disconnecting (reference unsubscribe_streams, exporter.py:894-905).

        Body: ``{"collection": name, "streams": [ids]}``.  Effects, all
        under the lock so they are atomic against a concurrent
        publish_live: the streams leave every matching subscription's
        membership set, their buffered-but-unreleased seam rows are
        discarded (the reference analogue: deleting from ``waitstreams``),
        and their seam bounds are forgotten.  Other streams in the same
        subscription keep flowing — including ones sharing a label, the
        reference's explicitly tolerated partial-label case (the XXX at
        exporter.py:896-899).
        """
        colname = body["collection"]
        drop = {int(s) for s in body.get("streams", [])}
        with self._lock:
            for sub in self._subs:
                if sub.sock is not sock or sub.colname != colname:
                    continue
                sub.stream_ids -= drop
                sub.buffered = [
                    b for b in sub.buffered if b[1] not in drop
                ]
                for sid in drop:
                    sub.last_by_stream.pop(sid, None)

    # -- live path (called by ingest) ---------------------------------------

    def announce_streams(self, colname: str, rows: list[dict]) -> None:
        """Announce freshly created streams to collection-interested
        clients (reference export_new_stream, exporter.py:1351-1406).

        Each interested socket — registered by a prior STREAMS request —
        receives the new stream rows as ordinary STREAMS frames (the
        reference reuses NNTSC_STREAMS for announcements, body
        ``(coll_id, False, [properties])``), batched at
        STREAMS_BATCH_ROWS like the request path (exporter.py:641-657).
        Each announced stream is also recorded so its FIRST live batch is
        forwarded to the announced sockets (reference ``newstreams`` with
        tosend=1, exporter.py:1466-1484) — the client sees initial data
        without resubscribing.
        """
        if not rows:
            return
        with self._lock:
            socks = list(self._interest.get(colname, ()))
        if not socks:
            return
        # enqueue the announcement frames BEFORE registering the
        # first-live forwarding entries: per-socket frame order is enqueue
        # order, so a publish_live racing this call can never place a LIVE
        # frame for the new stream ahead of its STREAMS announcement — the
        # 'client never sees data for a stream it was not told about'
        # ordering holds even with concurrent publishers (r14 ADVICE; the
        # reference relies on its single announcing thread for this)
        for sock in socks:
            for i in range(0, len(rows), STREAMS_BATCH_ROWS):
                block = rows[i : i + STREAMS_BATCH_ROWS]
                self._send(
                    sock,
                    Msg.STREAMS,
                    {
                        "collection": colname,
                        "streams": block,
                        "more": i + STREAMS_BATCH_ROWS < len(rows),
                    },
                )
        with self._lock:
            self._announce_gen += 1
            for row in rows:
                sid = row.get("stream_id")
                if sid is not None:
                    self._new_streams[int(sid)] = {
                        "collection": colname,
                        "socks": list(socks),
                        "tosend": 1,
                        "gen": self._announce_gen,
                    }
            # expire entries for announced streams that never published:
            # without a cap they persist until disconnect — bounded by
            # created-stream count but unbounded in TIME (r14 verdict
            # task 7).  A stream that has not ingested its first batch
            # within NEW_STREAM_GEN_CAP later announcement rounds forfeits
            # the tosend=1 forwarding (the client still has the STREAMS
            # announcement and can subscribe normally).
            stale = [
                sid for sid, ns in self._new_streams.items()
                if self._announce_gen - ns.get("gen", 0) > NEW_STREAM_GEN_CAP
            ]
            for sid in stale:
                del self._new_streams[sid]

    def publish_live(self, colname: str, stream_id: int, rows: list[dict]) -> None:
        """Fan out freshly ingested rows to matching subscriptions (S9).

        The waiting-check + buffer-append happens UNDER the lock: unlocked,
        it races _handle_subscribe's locked buffered/waiting swap — a row
        appended to the fresh list after the swap belongs to a sub that is
        no longer waiting and would never be drained (r5 review finding).
        Actual sends happen outside the lock (_ClientTx.send can block up
        to SEND_TIMEOUT on a full queue; holding the lock there would stall
        every publisher and subscriber on one slow client).
        """
        with self._lock:
            subs = list(self._subs)
            # first live batch of a just-announced stream: forward to the
            # sockets that received the announcement even though no
            # subscription names the stream yet (reference
            # exporter.py:1466-1484, tosend=1 then delete)
            ns = self._new_streams.get(int(stream_id))
            if ns is not None and ns["collection"] == colname:
                ns_socks = list(ns["socks"])
                del self._new_streams[int(stream_id)]
            else:
                ns_socks = []
        for nsock in ns_socks:
            for row in rows:
                self._send(
                    nsock,
                    Msg.LIVE,
                    {"collection": colname, "stream_id": stream_id,
                     "result": row},
                )
        for sub in subs:
            if sub.colname != colname or stream_id not in sub.stream_ids:
                continue
            to_send = []
            with self._lock:
                for row in rows:
                    ts = row.get("timestamp") or 0
                    if sub.start is not None and ts < sub.start:
                        continue  # P7 lower bound
                    if sub.end and ts > sub.end:
                        continue
                    if sub.waiting:
                        sub.buffered.append((0, stream_id, row))
                    else:
                        to_send.append(row)
            for row in to_send:
                self._send_live(sub, stream_id, row)

    def _send_live(self, sub: Subscription, stream_id: int, row: dict) -> None:
        if sub.columns:
            keep = set(sub.columns) | {"timestamp", "stream_id", "nntsclabel"}
            row = {k: v for k, v in row.items() if k in keep}
        self._send(
            sub.sock,
            Msg.LIVE,
            {"collection": sub.colname, "stream_id": stream_id, "result": row},
        )

    def push_marker(self, colname: str, timestamp: int) -> None:
        """T3: batch-boundary watermark — 'all data up to ts delivered'."""
        with self._lock:
            subs = list(self._subs)
        for sub in subs:
            if sub.colname == colname and not sub.waiting:
                self._send(
                    sub.sock,
                    Msg.PUSH,
                    {"collection": colname, "timestamp": timestamp},
                )
