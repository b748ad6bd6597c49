"""Seeded input generators.

The tables copy the shape of the engine's synthetic test data (``events``,
``documents``): same columns and types, same value distributions, the same
share of planted near-duplicate documents.  The
same seed always gives byte-identical inputs; the program under test only
ever sees the generated files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: 2024-01-01T00:00:00Z .. +30 days, the window the registry queries read
EPOCH0 = 1_704_067_200
SPAN = 30 * 86_400
VOCAB = (
    "a the data query table key value row column stream window batch scan "
    "filter join hash sort merge group agg part order line customer spark "
    "vector small big fast slow"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

ICMP_RAW_SCHEMA = (
    "source string, timestamp long, rtt long, loss long, random boolean, "
    "target string, address string, packet_size long"
)


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over 30 days, one user per ~67 events."""
    users = max(1, int(round(n * 0.015)))
    ts_us = np.sort(rng.integers(0, SPAN * 1_000_000, n)) + EPOCH0 * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; ~4% near copies (an earlier text plus
    ``dup``) and ~1% exact copies, for the dedup and contamination
    queries to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if r < 0.04 else src)
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(list(rng.choice(LANGS, n, p=LANG_P))),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, int]:
    """Write ``<name>.parquet`` for each requested table; returns the sizes."""
    makers = {
        "events": events_table,
        "documents": documents_table,
    }
    os.makedirs(out_dir, exist_ok=True)
    for k, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, k])
        pq.write_table(makers[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))
    return dict(sizes)


# -- live ingest input ----------------------------------------------------------


def icmp_batches(seed: int, n_batches: int, rows: int, streams: int,
                 t0: int = EPOCH0 + SPAN + 86_400, step: int = 60):
    """Raw amp-icmp result batches, derived from events the way the
    registry's ingest check derives them (error events are lost probes,
    other events report ``rtt = value * 100``).

    Batch ``b`` carries ``rows`` results stamped ``t0 + b * step``, spread
    over ``streams`` targets; every batch names every target at least once
    so each stream receives a row per batch.  Returns a list of lists of
    dicts in ``ICMP_RAW_SCHEMA`` order.
    """
    rng = np.random.default_rng([seed, 99])
    out = []
    for b in range(n_batches):
        ts = t0 + b * step
        tgt = np.concatenate(
            [np.arange(streams), rng.integers(0, streams, max(0, rows - streams))]
        )
        lost = rng.random(len(tgt)) < 0.2
        val = np.round(rng.exponential(50.0, len(tgt)), 2)
        batch = []
        for t, is_lost, v in zip(tgt.tolist(), lost.tolist(), val.tolist()):
            batch.append(
                {
                    "source": "amp",
                    "timestamp": ts,
                    "rtt": None if is_lost else int(v * 100),
                    "loss": 1 if is_lost else 0,
                    "random": False,
                    "target": f"dst{t}",
                    "address": f"192.0.2.{t % 250}" if t % 2 == 0 else f"fe80::{t}",
                    "packet_size": 84,
                }
            )
        out.append(batch)
    return out


def write_json_lines(path: str, rows: list[dict], staging: str) -> None:
    """Write a batch file atomically: a file source must never list a
    half-written file, so write into ``staging`` (outside the watched
    directory, same file system) and rename in."""
    tmp = os.path.join(staging, os.path.basename(path))
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r))
            fh.write("\n")
    os.replace(tmp, path)
