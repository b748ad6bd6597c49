"""Correctness checkers.  Pure functions over already-received results, so
they run outside every timed region and can be tested on corrupted input.
Each returns a list of error strings; an empty list means correct."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
from collections import Counter

from nntsc_spark.export.protocol import Msg


def norm(v):
    """One canonical form for a cell from pandas, Spark Rows or DuckDB:
    null and NaN are None, integral numbers are ints, other floats keep
    ten significant digits, arrays are tuples, timestamps are ISO text."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalar or array
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if math.isfinite(v) and v.is_integer() and abs(v) < 2**53:
            return int(v)
        return f"{v:.10g}"
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if type(v).__name__ in ("Timestamp", "NaTType"):
        return None if str(v) == "NaT" else v.to_pydatetime().isoformat()
    return v


def digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) with columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\0")
    return len(keys), h.hexdigest()


def pandas_digest(pdf) -> tuple[int, str]:
    return digest(list(pdf.columns), pdf.itertuples(index=False, name=None))


def _loose(v):
    """Like :func:`norm`, but fractions stay floats for a tolerant compare."""
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_loose(x) for x in v)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        return None if math.isnan(v) else v
    return norm(v)


def _close(a, b, rel: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


def _sort_key(row: tuple) -> str:
    """Integral values exactly, fractions to three digits: rows pair up by
    their exact columns even when a fraction differs in its last digits."""
    return repr(tuple(
        (int(x) if x.is_integer() else f"{x:.3g}") if isinstance(x, float) else x
        for x in row
    ))


def close_rows(columns_a, rows_a, columns_b, rows_b, rel: float = 1e-5) -> bool:
    """Order-insensitive row comparison with a relative float tolerance.

    Exact hashing is the first test; this is the fallback for results that
    round a value lying on a decimal tie (``round(486.41 / 8, 4)``), where
    two engines may round the binary approximation to either side.
    """
    if sorted(columns_a) != sorted(columns_b) or len(rows_a) != len(rows_b):
        return False

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(_loose(r[i]) for i in order) for r in rows), key=_sort_key)

    a, b = canon(columns_a, rows_a), canon(columns_b, rows_b)
    return all(_close(x, y, rel) for x, y in zip(a, b))


def check_digest(name: str, got: tuple[int, str], want: tuple[int, str],
                 loose=None) -> list[str]:
    """Row count and hash must match; ``loose()``, when given, is asked
    whether a hash mismatch is only float rounding at a tie."""
    if got[0] != want[0]:
        return [f"{name}: {got[0]} rows, oracle has {want[0]}"]
    if got[1] != want[1] and not (loose is not None and loose()):
        return [f"{name}: values differ from the oracle"]
    return []


def row_multiset(rows) -> Counter:
    return Counter(tuple(sorted((k, norm(v)) for k, v in r.items())) for r in rows)


def check_export(kind: str, request: dict, frames: list, expected: list[dict]) -> list[str]:
    """Check one export reply against the operator run directly.

    ``frames`` is every (Msg, body) received for the request, in order;
    ``expected`` the rows the operator returns for the same arguments.
    """
    errs = []
    if any(m == Msg.ERROR for m, _ in frames):
        errs.append(f"{kind}: ERROR frame {[b for m, b in frames if m == Msg.ERROR][:1]}")
    rows: list[dict] = []
    if kind == "streams":
        blocks = [b for m, b in frames if m == Msg.STREAMS]
        for b in blocks:
            rows.extend(b["streams"])
        if not blocks or blocks[-1]["more"] is not False:
            errs.append(f"{kind}: reply not terminated by more=False")
    elif kind == "matrix":
        blocks = [b for m, b in frames if m == Msg.HISTORY]
        for b in blocks:
            rows.extend(b["matrix"])
        if not blocks or blocks[-1]["more"] is not False:
            errs.append(f"{kind}: reply not terminated by more=False")
    else:
        done = Counter(b["label"] for m, b in frames if m == Msg.HISTORY_DONE)
        for label in request["labels"]:
            if done.get(label) != 1:
                errs.append(f"{kind}: label {label} got {done.get(label, 0)} HISTORY_DONE")
        for m, b in frames:
            if m == Msg.HISTORY:
                rows.extend(b["history"])
    if row_multiset(rows) != row_multiset(expected):
        errs.append(f"{kind}: {len(rows)} rows differ from the {len(expected)} "
                    "the operator returns")
    return errs


# -- live ingest ----------------------------------------------------------------


def int_median(sorted_vals: list[int]):
    n = len(sorted_vals)
    if n == 0:
        return None
    if n % 2:
        return sorted_vals[n // 2]
    return int((sorted_vals[n // 2] + sorted_vals[n // 2 - 1]) / 2)


def expected_icmp(batches: list[list[dict]]) -> dict:
    """What the icmp parser must store: per (destination, timestamp) one
    row with the integer median of non-null rtts, the loss sum and the
    count of truthy results (None when zero)."""
    acc: dict = {}
    for batch in batches:
        for r in batch:
            key = (r["target"], r["timestamp"])
            rtts, loss, results = acc.get(key, ([], 0, 0))
            if r["rtt"] is not None:
                rtts.append(r["rtt"])
            truthy = bool(r["rtt"]) or bool(r["loss"])
            acc[key] = (rtts, loss + (r["loss"] or 0), results + int(truthy))
    return {
        key: (int_median(sorted(rtts)), loss, results or None)
        for key, (rtts, loss, results) in acc.items()
    }


def check_ingest(expected: dict, expected_live: dict, stored: dict,
                 subscribers: list[dict], batch_ts: list[int], sid_of: dict) -> list[str]:
    """``expected`` (every batch) and ``expected_live`` (the batches sent
    while subscribers were connected) come from :func:`expected_icmp`;
    ``stored`` maps (destination, timestamp) -> (median, loss, results) read
    back from the fact table; each subscriber is ``{"streams": set of
    stream ids, "live": Counter of (sid, ts), "push": list of PUSH
    timestamps}``; ``batch_ts`` holds the timestamp of every batch sent
    while subscribed; ``sid_of`` maps destination -> stream id."""
    errs = []
    missing = [k for k in expected if k not in stored]
    extra = [k for k in stored if k not in expected]
    if missing or extra:
        errs.append(f"ingest: {len(missing)} stored rows missing, {len(extra)} unexpected")
    wrong = [k for k in expected if k in stored and stored[k] != expected[k]]
    if wrong:
        errs.append(f"ingest: {len(wrong)} stored rows have wrong values, e.g. {wrong[0]}")
    for i, sub in enumerate(subscribers):
        want = Counter(
            (sid_of[dst], ts) for dst, ts in expected_live
            if sid_of.get(dst) in sub["streams"]
        )
        if sub["live"] != want:
            lost = sum((want - sub["live"]).values())
            dup = sum((sub["live"] - want).values())
            errs.append(f"subscriber {i}: {lost} LIVE rows missing, {dup} unexpected")
        if sorted(sub["push"]) != sorted(batch_ts):
            errs.append(f"subscriber {i}: {len(sub['push'])} PUSH frames for "
                        f"{len(batch_ts)} batches")
    return errs
