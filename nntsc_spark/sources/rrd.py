"""RRD-style file scraper source — SURVEY.md §2.1 S2.

The reference polls Smokeping RRD files every 30 s, fetching AVERAGE rows
newer than the last seen timestamp, and reverts to the last committed
position on insert failure (libnntsc/parsers/rrd.py:135-238; poll interval
rrd.py:223-229).

``rrdtool`` is not available in this environment, so the fetch step is a
pluggable reader: the default reads rrdtool-export-like JSON lines
``{"timestamp": .., "loss": .., "median": .., "pings": [..]}`` from plain
files, which is also what the unit tests feed.  The poller keeps per-file
``lasttimestamp`` state exactly like the reference: rows <= last_ts are
skipped, state advances only after the batch commits (revert-on-failure
for free), and each poll emits one raw-row DataFrame ready for
``ingest.rrd_smokeping.process_smokeping``.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

POLL_INTERVAL = 30  # seconds (libnntsc/parsers/rrd.py:223-229)
RETRY_BACKOFF = 10  # seconds (rrd.py:226)

RAW_SCHEMA = (
    "filename string, source string, host string, family string, "
    "minres long, highrows long, timestamp long, loss double, "
    "median double, pings array<double>"
)


def read_rrd_export(path: str) -> list[dict]:
    """Default fetch: rrdtool-export-like JSON lines."""
    rows = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                rows.append(json.loads(line))
    return rows


@dataclass
class RRDStream:
    """One monitored file + its stream identity columns."""

    filename: str
    source: str
    host: str
    family: str = "ipv4"
    minres: int = 300
    highrows: int = 1008


@dataclass
class RRDPoller:
    """Two-cursor state, exactly the reference's (rrd.py:136, 233-238):
    ``last_ts`` is the TENTATIVE read cursor — poll() advances it so
    consecutive successful polls never re-read — and ``last_commit`` is
    the durable one, advanced only by :meth:`commit` after the caller's
    downstream write succeeds.  On a failed write the caller calls
    :meth:`revert` (last_ts := last_commit) and re-polls: the same rows
    come back.  (The r5 review found poll() committing immediately, which
    silently dropped a failed batch's measurements forever.)"""

    spark: SparkSession
    streams: list[RRDStream]
    fetch: Callable[[str], list[dict]] = field(default=read_rrd_export)
    last_ts: dict[str, int] = field(default_factory=dict)
    last_commit: dict[str, int] = field(default_factory=dict)

    def poll(self) -> DataFrame | None:
        """One poll cycle: new rows (ts > lasttimestamp) across all files."""
        out = []
        advanced: dict[str, int] = {}
        for s in self.streams:
            if not Path(s.filename).exists():
                continue
            since = self.last_ts.get(s.filename, 0)
            newest = since
            for row in self.fetch(s.filename):
                ts = int(row["timestamp"])
                if ts <= since:
                    continue
                newest = max(newest, ts)
                def _d(v):
                    return None if v is None else float(v)

                out.append(
                    (
                        s.filename,
                        s.source,
                        s.host,
                        s.family,
                        s.minres,
                        s.highrows,
                        ts,
                        _d(row.get("loss")),
                        _d(row.get("median")),
                        [_d(p) for p in row["pings"]]
                        if row.get("pings") is not None
                        else None,
                    )
                )
            if newest > since:
                advanced[s.filename] = newest
        if not out:
            return None
        df = local_frame(self.spark, out, RAW_SCHEMA)
        self.last_ts.update(advanced)  # tentative; durable only on commit()
        return df

    def commit(self) -> None:
        """Downstream write succeeded: make the read cursor durable."""
        self.last_commit = dict(self.last_ts)

    def revert(self) -> None:
        """Downstream write failed: rewind to the last committed position
        so the next poll re-reads the failed batch (rrd.py:233-238)."""
        self.last_ts = dict(self.last_commit)
