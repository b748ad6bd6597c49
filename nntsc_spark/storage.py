"""Time-series storage layout: one date-partitioned fact table per collection.

Replaces the reference's per-stream physical table clones + UNION ALL
reassembly (libnntsc/database.py:621-632, dbselect.py:633-647) with a single
columnar table per collection:

- partitioned by ``date`` (derived from the integer epoch ``timestamp``) —
  directory-level pruning for time-range queries, the dominant predicate;
- sorted within partitions by (stream_id, timestamp) at write time so
  parquet row-group min/max stats prune stream_id IN (...) predicates
  (the reference's per-stream tables become row-group locality);
- appends are new files per micro-batch (blind append, no read-modify-write)
  — at 1000-executor scale writers never contend.

Retention (SURVEY.md §2.8 T7): whole date partitions older than the cutoff
are dropped, mirroring Influx retention policies (influx.py:236-274) — a
directory delete, not a rewrite.

Streaming state (sketches, dedup indexes, canonical maps) lives in
:class:`EpochTable`s: one ``batch=N`` partition per foreachBatch epoch,
with the write, read and compaction contract stated once there.
"""

from __future__ import annotations

import os
import shutil
import uuid
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

DATE_COL = "date"

# ---------------------------------------------------------------------------
# Transactional contract (T4)
#
# The reference gets batch atomicity from Postgres: a parser batch commits
# stream inserts + data inserts in one transaction (parsers/amp.py:250-273),
# so a crash never exposes half a batch.  On plain parquet the equivalent
# contract, under the same single-writer assumption (one ingest daemon per
# collection — exactly the reference's deployment shape), is:
#
# - FACT APPENDS: each micro-batch lands as new files committed through
#   Spark's FileOutputCommitter — tasks write under ``_temporary/`` (hidden
#   from every reader: FileIndex skips ``_``/``.`` paths) and are renamed in
#   at job commit.  A crash mid-job leaves only invisible staging garbage;
#   ``dropDuplicates`` on replay makes a re-run of an interrupted batch
#   idempotent.  The rename loop at job commit is not atomic across files —
#   the residual window a real multi-writer lakehouse closes with a commit
#   log (Delta/Iceberg, not available here) — but it is crash-*recoverable*:
#   re-running the batch restores a consistent table.
#
# - DIMENSIONS: never delete-then-write (plain ``mode("overwrite")`` drops
#   the only copy before the new one exists).  ``write_dimension`` publishes
#   immutable versioned snapshots with a single atomic ``os.rename`` as the
#   commit point; ``read_dimension`` resolves the newest snapshot whose
#   ``_SUCCESS`` marker exists.  A crash before the rename leaves hidden
#   staging only; a crash after it is a committed version.
#
# tests/test_streaming.py::test_dimension_crash_* pin this behavior.
# ---------------------------------------------------------------------------


#: per-micro-batch partition column for idempotent streaming appends
BATCH_COL = "ingest_batch"


def with_date(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Derive the partition day from the epoch by INTEGER ARITHMETIC, not
    timestamp rendering: ``date_format(cast(ts as timestamp))`` renders in
    the session timezone, while retention computes its cutoff day in UTC —
    on a non-UTC session the two disagree and retention deletes rows up to
    a day early (r5 review finding).  Epoch//86400 is the UTC day on any
    session configuration."""
    return df.withColumn(
        DATE_COL,
        F.date_format(
            F.date_add(
                F.to_date(F.lit("1970-01-01")),
                F.floor(F.col(ts_col) / 86400).cast("int"),
            ),
            "yyyy-MM-dd",
        ),
    )


def epoch_day(epoch: int) -> str:
    """The UTC partition-day string for an epoch second — the single
    rendering shared by with_date, retention, and time_slice."""
    import datetime as dt

    return dt.datetime.fromtimestamp(
        int(epoch), tz=dt.timezone.utc
    ).strftime("%Y-%m-%d")


def write_fact(
    df: DataFrame,
    path: str,
    mode: str = "append",
    sort_within: bool = True,
    batch_id: int | None = None,
) -> None:
    """Append fact rows date-partitioned, sorted for row-group pruning.

    With ``batch_id`` (the streaming path) rows additionally partition by
    ``ingest_batch`` and the write is a DYNAMIC partition overwrite of
    exactly this batch's own (date, batch) partitions: a foreachBatch
    retry after a crash between the fact append and the checkpoint commit
    rewrites the same directories with the same deterministic content
    instead of appending the whole batch a second time (r5 review
    finding — a plain append made every retry double the batch forever).
    """
    out = with_date(df)
    if sort_within:
        out = out.sortWithinPartitions("stream_id", "timestamp")
    if batch_id is None:
        out.write.partitionBy(DATE_COL).mode(mode).parquet(path)
        return
    (
        out.withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.partitionBy(DATE_COL, BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )


def time_slice(df: DataFrame, lo: int, hi: int, ts_col: str = "timestamp") -> DataFrame:
    """Inclusive timestamp-range filter that ALSO prunes date partitions.

    Catalyst cannot infer ``date BETWEEN ...`` from a timestamp predicate,
    so without the explicit bounds every time-range query lists and reads
    footers of EVERY date partition of the table (r5 review finding — the
    layout's advertised directory pruning never actually happened).  The
    day bounds use the same UTC rendering as ``with_date``, and partition
    values compare lexicographically as dates do.
    """
    pred = (F.col(ts_col) >= lo) & (F.col(ts_col) <= hi)
    if DATE_COL in df.columns:
        pred &= (F.col(DATE_COL) >= epoch_day(lo)) & (
            F.col(DATE_COL) <= epoch_day(hi)
        )
    return df.where(pred)


def read_fact(
    spark: SparkSession,
    path: str,
    lo: int | None = None,
    hi: int | None = None,
) -> DataFrame:
    """Single scan; pass ``lo``/``hi`` epoch bounds to prune date
    partitions at the directory level (see time_slice) — the bounds are
    applied BEFORE the partition columns are dropped."""
    df = spark.read.parquet(path)
    if lo is not None and hi is not None:
        df = time_slice(df, lo, hi)
    return df.drop(DATE_COL, BATCH_COL)


def _dim_versions(path: str) -> list[Path]:
    """Committed snapshot dirs, oldest -> newest (commit = rename + _SUCCESS)."""
    root = Path(path)
    if not root.exists():
        return []
    return sorted(
        p
        for p in root.glob("v*")
        if p.is_dir() and (p / "_SUCCESS").exists()
    )


def write_dimension(df: DataFrame, path: str, keep_versions: int = 2) -> str:
    """Atomically publish a new dimension snapshot (see module contract).

    Dimensions (streams, path dictionaries, stats) are tiny, so each
    micro-batch writes the full table: to a dot-prefixed staging dir first
    (invisible to readers, discardable after a crash), then one
    ``os.rename`` commits it as the next ``vNNNNNNNN`` version.  Older
    versions beyond ``keep_versions`` are pruned only after the new commit.
    Returns the committed snapshot path.
    """
    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    vers = _dim_versions(path)
    n = (int(vers[-1].name[1:]) + 1) if vers else 1
    stage = root / f".staging-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(str(stage))
    final = root / f"v{n:08d}"
    os.rename(stage, final)
    for old in _dim_versions(path)[:-keep_versions]:
        shutil.rmtree(old, ignore_errors=True)
    # sweep staging dirs abandoned by crashed writers (single-writer: any
    # other staging dir is dead)
    for junk in root.glob(".staging-*"):
        shutil.rmtree(junk, ignore_errors=True)
    return str(final)


def read_dimension(spark: SparkSession, path: str) -> DataFrame | None:
    """Newest committed dimension snapshot, or None before the first commit."""
    vers = _dim_versions(path)
    if not vers:
        return None
    return spark.read.parquet(str(vers[-1]))


def apply_retention(path: str, keep_seconds: int, now: int) -> list[str]:
    """Drop whole date partitions strictly older than the cutoff.

    Returns the dropped partition names.  Mirrors the reference's Influx
    retention policy semantics (keepdata, influx.py:255-260) at directory
    granularity — a partition is dropped only when its entire day is past
    the cutoff, so the boundary day survives until fully expired.
    """
    cutoff_day = epoch_day(now - keep_seconds)
    dropped = []
    root = Path(path)
    if not root.exists():
        return dropped
    for part in sorted(root.glob(f"{DATE_COL}=*")):
        day = part.name.split("=", 1)[1]
        if day < cutoff_day:
            shutil.rmtree(part)
            dropped.append(part.name)
    return dropped


#: sentinel ingest_batch value for compacted rows (real batch ids are > 0)
COMPACTED_BATCH = -1


def _partition_parquet_files(part: Path) -> list[Path]:
    """Visible parquet data files under a partition dir (any depth)."""
    return [
        p
        for p in part.rglob("*.parquet")
        if not any(seg.startswith((".", "_")) for seg in p.relative_to(part).parts)
    ]


def _recover_compaction(root: Path) -> None:
    """Make the table consistent after a compactor crash (single-writer).

    The swap sequence is rename(part -> trash); rename(stage -> part);
    rmtree(trash).  A crash leaves one of three states, all recoverable:
    stage only (before swap: discard), trash + missing part (mid-swap:
    rename the original back), trash + part (after swap: finish the
    cleanup).  Readers never see a torn partition because stage/trash
    dirs are dot-prefixed and invisible to Spark's file index.
    """
    for trash in root.glob(".compact-trash-*"):
        part = root / trash.name[len(".compact-trash-") :]
        if part.exists():
            shutil.rmtree(trash, ignore_errors=True)
        else:
            os.rename(trash, part)
    for stage in root.glob(".compact-stage-*"):
        shutil.rmtree(stage, ignore_errors=True)


def compact_fact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    now: int | None = None,
    min_age_seconds: int = 86_400,
) -> list[str]:
    """Rewrite small files within CLOSED date partitions into ~target-size
    files — the maintenance job a foreachBatch-append table needs.

    Streaming ingest lands one file set per micro-batch per day
    (write_fact's idempotent (date, ingest_batch) layout) — at 1-minute
    commits that is ~1440 tiny files per partition per day forever, and
    at 100 TB the file-listing + footer-read cost dominates every scan.
    The reference never hit this because its stores compacted internally
    (Postgres heaps, Influx TSM compactions); on plain parquet it must be
    an explicit job, scheduled alongside :func:`apply_retention`.

    Contract (single-writer, like the rest of this module):

    - only partitions whose UTC day is older than ``now -
      min_age_seconds`` are touched (``now=None`` means "writes have
      stopped; compact everything") — a retried ingest batch only ever
      rewrites its own ``ingest_batch=N`` dirs in OPEN days, so closed
      days are stable by the checkpoint contract;
    - idempotent: a partition already at or under its target file count
      is skipped, so re-runs are no-ops;
    - crash-safe: the compacted replacement is staged dot-prefixed
      (invisible to readers), the swap is two directory renames with a
      recovery sweep (:func:`_recover_compaction`) run on entry, and a
      crash at any point leaves every row readable exactly once;
    - batch-partitioned layouts collapse to a single
      ``ingest_batch=-1`` sentinel level so the partition column layout
      stays consistent across compacted and open days;
    - rows are range-repartitioned and sorted on (stream_id, timestamp),
      restoring tight row-group min/max stats across what were per-batch
      file boundaries — compaction is also a clustering repair.

    Returns the names of the partitions rewritten.
    """
    import math

    root = Path(path)
    if not root.exists():
        return []
    _recover_compaction(root)
    cutoff = epoch_day(now - min_age_seconds) if now is not None else None
    done: list[str] = []
    for part in sorted(root.glob(f"{DATE_COL}=*")):
        day = part.name.split("=", 1)[1]
        if cutoff is not None and day >= cutoff:
            continue
        files = _partition_parquet_files(part)
        if not files:
            continue
        total = sum(f.stat().st_size for f in files)
        goal = max(1, math.ceil(total / target_bytes))
        if len(files) <= goal:
            continue
        batched = any(p.name.startswith(f"{BATCH_COL}=") for p in part.iterdir())
        df = (
            spark.read.option("basePath", str(root)).parquet(str(part))
            .drop(DATE_COL, BATCH_COL)
        )
        stage = root / f".compact-stage-{uuid.uuid4().hex[:8]}"
        (
            df.repartitionByRange(goal, "stream_id", "timestamp")
            .sortWithinPartitions("stream_id", "timestamp")
            .write.mode("overwrite")
            .parquet(str(stage / "data"))
        )
        newpart = stage / "part"
        dest = (
            newpart / f"{BATCH_COL}={COMPACTED_BATCH}" if batched else newpart
        )
        dest.mkdir(parents=True)
        for f in (stage / "data").glob("*.parquet"):
            os.rename(f, dest / f.name)
        trash = root / f".compact-trash-{part.name}"
        os.rename(part, trash)
        os.rename(newpart, part)
        shutil.rmtree(trash)
        shutil.rmtree(stage, ignore_errors=True)
        done.append(part.name)
    return done


def fact_stats(path: str) -> list[dict]:
    """Per-partition layout health for a fact table: file count, bytes,
    and micro-batch count per date — the observability feed for deciding
    WHEN to run :func:`compact_fact` (e.g. alert when any closed
    partition's file count exceeds its byte-derived target).  Pure
    metadata walk, no Spark job.

    Returns [{partition, n_files, bytes, n_batches}] sorted by day.
    """
    out = []
    root = Path(path)
    if not root.exists():
        return out
    for part in sorted(root.glob(f"{DATE_COL}=*")):
        files = _partition_parquet_files(part)
        out.append(
            {
                "partition": part.name,
                "n_files": len(files),
                "bytes": sum(f.stat().st_size for f in files),
                "n_batches": len(list(part.glob(f"{BATCH_COL}=*"))),
            }
        )
    return out


def maintain_fact(
    spark: SparkSession,
    path: str,
    keep_seconds: int,
    now: int,
    target_bytes: int = 128 << 20,
    min_age_seconds: int = 86_400,
) -> dict:
    """The scheduled maintenance pass for a streaming-append fact table:
    retention FIRST (so partitions about to expire are never compacted),
    then small-file compaction of the remaining closed days.  Both halves
    are idempotent and crash-safe individually, so the composition is
    re-runnable from any failure point.

    Returns {"dropped": [...], "compacted": [...]} partition names.
    """
    dropped = apply_retention(path, keep_seconds, now)
    compacted = compact_fact(spark, path, target_bytes, now, min_age_seconds)
    return {"dropped": dropped, "compacted": compacted}


#: sidecar recording the highest epoch id folded into a table's
#: ``batch=-1`` sentinel; written atomically with the compacted data
HORIZON_MARKER = "_compaction_horizon"


def compaction_horizon(root) -> int | None:
    """Highest epoch id folded into ``root``'s ``batch=-1`` sentinel, or
    None if the table was never compacted (or predates the marker)."""
    try:
        return int((Path(root) / HORIZON_MARKER).read_text().strip())
    except (OSError, ValueError):
        return None


def check_as_of_visible(root, as_of_batch: int | None) -> None:
    """Raise ValueError when ``as_of_batch`` predates ``root``'s
    compaction horizon (see :class:`EpochTable`): the prefix it asks for
    is folded into the sentinel and no longer exists."""
    if as_of_batch is None:
        return
    h = compaction_horizon(root)
    if h is not None and int(as_of_batch) < h:
        raise ValueError(
            f"as_of_batch={int(as_of_batch)} predates the compaction "
            f"horizon {h} of {root}: epochs <= {h} are folded into the "
            "batch=-1 sentinel and a historical prefix below it no "
            f"longer exists — pass as_of_batch >= {h}, or None for the "
            "full state"
        )


class EpochTable:
    """Streaming state kept as one ``root/batch=N`` partition per
    foreachBatch epoch N — the parquet stand-in for the reference's
    one-transaction-per-batch commit (parsers/amp.py:181-273), under the
    same single-writer assumption as the rest of this module.

    Contract:

    - WRITE: epoch N OVERWRITES exactly its own ``batch=N`` partition
      with content that is a deterministic function of (the epoch's rows,
      the prior partitions).  A foreachBatch retry after a crash, or a
      double run, rewrites identical files: an epoch is never lost,
      double-counted or duplicated.
    - PRIOR: an epoch reads only ``batch < N``, which the overwrite
      discipline keeps immutable, so a partial write from a failed
      attempt can never make an epoch collide with itself.  Reads pass
      the schema EXPLICITLY: a crash can leave a partition holding only an
      uncommitted ``_temporary/`` (zero data files), where schema
      inference raises UNABLE_TO_INFER_SCHEMA; with the schema the read
      returns zero rows and the repairing overwrite runs.  ONLY
      PATH_NOT_FOUND means "no state yet" (an empty frame of the
      schema) — probing by read, not ``os.path``, so any filesystem URI
      works; any other failure (transient store error, corrupt footer)
      raises, so foreachBatch retries the epoch instead of silently
      dropping state (a dedup index read as empty admits permanent
      duplicates).
    - SERVE: the overwrite of ``batch=N`` is not atomic, so a read
      concurrent with an in-flight epoch can see it half written.
      Readers that must be exact while the stream runs pass
      ``as_of_batch`` = the last COMMITTED epoch id (e.g.
      ``lastProgress["batchId"] - 1`` off the running query); the
      ``batch <= as_of_batch`` partition filter prunes the in-flight
      directory at planning time, before any of its files is opened.
      ``as_of_batch=None`` reads everything — exact whenever no epoch is
      mid-write.  A table that does not exist yet serves empty state.
    - COMPACTION folds the per-epoch partitions into ~target-size files
      under one ``batch=-1`` sentinel (:data:`COMPACTED_BATCH`): per-
      commit epochs otherwise leave one file set each forever, and every
      read pays the file-listing tax on all of history.  Not 0: epochs
      start at 0, so a stream restarted with a FRESH checkpoint would
      overwrite a ``batch=0`` merge, while -1 passes every epoch's
      ``batch < N`` filter and collides with none.  Corollary: ALWAYS
      compact before restarting a stream with a fresh checkpoint —
      uncompacted ``batch>=0`` partitions are invisible to the restarted
      epochs' prior read and are overwritten one by one as the new ids
      climb past them.  Run it with the stream STOPPED and serves
      quiesced: Structured Streaming's checkpoint guarantees committed
      epochs never replay, which is what makes merging them safe, but
      the swap is not atomic against a concurrent read (``as_of_batch``
      guards against in-flight EPOCH writes, not against ``compact()``).
      The rewrite is staged dot-prefixed (invisible to readers) and
      swapped in with one directory rename behind the same recovery
      sweep as :func:`compact_fact`, so a crash leaves every row readable
      exactly once.  Compaction is row-preserving, so any fold a serve
      path applies (sum, max, distinct) gives the same answer after it.
    - HORIZON: the highest real epoch id folded into the sentinel is
      recorded in a ``_compaction_horizon`` sidecar swapped in with the
      data and carried across re-compactions.  The sentinel cannot be
      split retroactively — it passes every ``batch <= as_of_batch``
      filter — so a serve with ``as_of_batch`` below the horizon raises
      (:func:`check_as_of_visible`) instead of returning the full
      compacted state as a "prefix"; ``as_of_batch`` at or above it stays
      exact.

    ``schema`` is the DDL of the data columns (``batch`` is the partition
    column).  ``None`` means the columns are not known until the first
    commit: reads infer them, and reading a table that does not exist
    raises FileNotFoundError, since no empty frame can be built.
    """

    def __init__(self, spark: SparkSession, root: str, schema: str | None):
        self.spark = spark
        self.root = str(root).rstrip("/")
        self.schema = schema

    def write(self, df: DataFrame, batch_id: int) -> None:
        """Commit epoch ``batch_id``: overwrite its own partition."""
        df.write.mode("overwrite").parquet(f"{self.root}/batch={int(batch_id)}")

    def prior(self, batch_id: int) -> DataFrame:
        """The state committed by the epochs before ``batch_id``."""
        return self._epochs(F.col("batch") < int(batch_id))

    def read(self, as_of_batch: int | None = None) -> DataFrame:
        """The state through epoch ``as_of_batch`` (all of it if None)."""
        check_as_of_visible(self.root, as_of_batch)
        if as_of_batch is None:
            return self._epochs(None)
        return self._epochs(F.col("batch") <= int(as_of_batch))

    def _epochs(self, keep: F.Column | None) -> DataFrame:
        """Rows of the epochs whose ``batch`` passes ``keep`` (all if
        None), without the partition column."""
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema + ", batch int")
        try:
            df = reader.parquet(self.root)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            if self.schema is None:
                raise FileNotFoundError(
                    f"no batches committed yet under {self.root}"
                ) from exc
            return local_frame(self.spark, [], self.schema)
        if keep is not None:
            df = df.where(keep)
        return df.drop("batch")

    def compact(self, target_bytes: int = 128 << 20) -> bool:
        """Fold the per-epoch partitions into the ``batch=-1`` sentinel
        and record the horizon (see the class contract).  Idempotent: a
        single-partition table already at its file target is skipped.
        Returns True if the table was rewritten."""
        import math

        root = Path(self.root)
        proot = root.parent
        if not proot.exists():
            return False
        _recover_compaction(proot)
        if not root.exists():
            return False
        files = _partition_parquet_files(root)
        if not files:
            return False
        total = sum(f.stat().st_size for f in files)
        goal = max(1, math.ceil(total / target_bytes))
        n_batches = len(list(root.glob("batch=*")))
        if len(files) <= goal and n_batches <= 1:
            return False
        # the horizon carries forward: a file-count-only re-fold of an
        # already-compacted table must not lose it when the old root —
        # marker included — moves to trash
        folded = [
            int(p.name.split("=", 1)[1])
            for p in root.glob("batch=*")
            if p.name.split("=", 1)[1].lstrip("-").isdigit()
        ]
        carried = compaction_horizon(root)
        real = [b for b in folded if b >= 0]
        if carried is not None:
            real.append(carried)
        horizon = max(real) if real else None
        stage = proot / f".compact-stage-{uuid.uuid4().hex[:8]}"
        self.read().coalesce(goal).write.mode("overwrite").parquet(
            str(stage / "data")
        )
        dest = stage / "part" / f"batch={COMPACTED_BATCH}"
        dest.mkdir(parents=True)
        for f in (stage / "data").glob("*.parquet"):
            os.rename(f, dest / f.name)
        if horizon is not None:
            # inside stage/part so the single directory rename below swaps
            # data and marker ATOMICALLY; the underscore prefix keeps Spark's
            # file index from reading it as data (same convention as _SUCCESS)
            (stage / "part" / HORIZON_MARKER).write_text(str(horizon))
        trash = proot / f".compact-trash-{root.name}"
        os.rename(root, trash)
        os.rename(stage / "part", root)
        shutil.rmtree(trash)
        shutil.rmtree(stage, ignore_errors=True)
        return True


#: bits per dimension in the Z-order key (2*16 = 32-bit key)
ZORDER_BITS = 16


def _normalize(col: F.Column, lo: int, hi: int, bits: int) -> F.Column:
    """Map a long column from [lo, hi] onto [0, 2^bits - 1] (floor division)."""
    span = max(1, hi - lo)
    return ((col.cast("long") - F.lit(lo)) * F.lit((1 << bits) - 1)) / F.lit(
        span
    )


def zorder_key(
    stream_col: str = "stream_id",
    ts_col: str = "timestamp",
    stream_range: tuple[int, int] = (0, (1 << ZORDER_BITS) - 1),
    ts_range: tuple[int, int] = (0, (1 << ZORDER_BITS) - 1),
    bits: int = ZORDER_BITS,
) -> F.Column:
    """Bit-interleaved (stream_id, time) Z-order sort key.

    Each dimension is first normalized onto the same ``bits``-wide scale
    from its actual value range (raw interleave would let the wider
    dimension's bits dominate the key ordering and the clustering would
    collapse to a one-dimensional sort — Delta's OPTIMIZE ZORDER normalizes
    via per-column range ids for the same reason), then the two bucket
    numbers are interleaved bit by bit.  Sorting by the key clusters rows
    that are close in BOTH dimensions, so every file carries tight min/max
    footer stats on both columns: a sub-day time-range predicate skips
    files even though every file holds some of every stream's day, and a
    stream predicate skips files within a day — the 2-D upgrade over the
    linear (stream_id, timestamp) sort.  Pure shift/and/or arithmetic,
    stays in whole-stage codegen.
    """
    s = F.floor(_normalize(F.col(stream_col), *stream_range, bits)).cast("long")
    t = F.floor(_normalize(F.col(ts_col), *ts_range, bits)).cast("long")
    key = F.lit(0).cast("long")
    for b in range(bits):
        key = (
            key
            .bitwiseOR(F.shiftleft(F.shiftright(s, b).bitwiseAND(1), 2 * b))
            .bitwiseOR(F.shiftleft(F.shiftright(t, b).bitwiseAND(1), 2 * b + 1))
        )
    return key


def write_fact_zorder(
    df: DataFrame,
    path: str,
    mode: str = "append",
    num_ranges: int = 8,
) -> None:
    """Append fact rows date-partitioned and Z-order-clustered within the day.

    ``repartitionByRange`` over (date, interleaved key) splits the batch
    into ``num_ranges`` ordered slices (range exchange, no skew — the key
    is bit-mixed), and the within-file sort keeps parquet page/row-group
    stats tight.  Use instead of :func:`write_fact` when queries mix stream-subset
    and sub-day time predicates; see tests/test_storage_layout.py for the
    measured file-skipping effect.

    Normalization ranges come from one cheap agg over the batch (min/max of
    two longs — map-side combined, negligible next to the write itself).
    """
    bounds = df.agg(
        F.min("stream_id"), F.max("stream_id"), F.min("timestamp"), F.max("timestamp")
    ).first()
    if bounds[0] is None:
        return  # empty batch: nothing to write (min/max are NULL)
    key = zorder_key(
        stream_range=(bounds[0], bounds[1]), ts_range=(bounds[2], bounds[3])
    )
    out = with_date(df).withColumn("_zkey", key)
    out = out.repartitionByRange(
        num_ranges, F.col(DATE_COL), F.col("_zkey")
    ).sortWithinPartitions(DATE_COL, "_zkey")
    out.drop("_zkey").write.partitionBy(DATE_COL).mode(mode).parquet(path)


def write_fact_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 32,
    bucket_col: str = "stream_id",
) -> None:
    """Bucketed fact layout for shuffle-free stream-keyed joins/aggs.

    ``bucketBy(stream_id) + sortBy(stream_id, timestamp)`` persists the
    hash distribution in the catalog: joins and aggregations keyed on
    stream_id read co-located buckets and skip the Exchange entirely —
    the cluster-scale replacement for the reference's per-stream physical
    tables.  Written as an external table so the path is caller-owned.
    """
    (
        df.write.bucketBy(buckets, bucket_col)
        .sortBy(bucket_col, "timestamp")
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )
