"""Streaming count-min maintenance: heavy-hitter state over a document
stream.

The batch sketch (pipeline/sketches.py) answers "what's heavy in this
corpus"; a live ingest pipeline needs the same answer continuously —
trending tokens, hot stream labels, burst detection — without re-scanning
history per micro-batch.  Count-min is the right state for that because
merge is element-wise addition: each micro-batch contributes its OWN
bounded ``depth x width`` sketch, and the current estimate is the sum of
all batches' cells — never a read-modify-write of shared state.

Write discipline is :class:`~..storage.EpochTable`'s: every epoch
OVERWRITES exactly its own partition, so foreachBatch retries re-run the
same deterministic build and land on the same directory — a crash cannot
double-count a batch.  Accumulated per-epoch partitions fold into the
compaction sentinel with :meth:`~..storage.EpochTable.compact` (stream
stopped, same caveats).

Merged reads stay cheap at any stream age: the read is at most
``n_batches x depth x width`` rows and the combine is one bounded
groupBy — but compact anyway; the file-listing tax is the real cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.sketches import cms_build, cms_estimate, hll_build, hll_estimate
from ..storage import EpochTable
from . import foreach_batch

SKETCH_SCHEMA = "row int, bucket int, cnt long"


class SketchMaintainer:
    """Maintains one count-min sketch table for one keyed stream."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        col: str = "tok",
        depth: int = 4,
        width: int = 2048,
    ) -> None:
        self.col = col
        self.depth = int(depth)
        self.width = int(width)
        self._table = EpochTable(spark, path, SKETCH_SCHEMA)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One epoch: build this batch's sketch and write it.

        Deterministic in the batch's rows, so a foreachBatch retry
        rewrites identical cells — idempotent by construction.
        """
        self._table.write(
            cms_build(batch, self.col, self.depth, self.width), batch_id
        )

    def attach(self, stream: DataFrame, checkpoint: str, **trigger):
        """Wire onto a streaming DataFrame (one column: ``self.col``)."""
        return foreach_batch(stream, self.process_batch, checkpoint, trigger)

    def merged(self, as_of_batch: int | None = None) -> DataFrame:
        """The stream-lifetime sketch: all batches (through
        ``as_of_batch`` if given, see :meth:`EpochTable.read`) summed
        cell-wise."""
        return (
            self._table.read(as_of_batch)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def estimate(
        self, probes: DataFrame, as_of_batch: int | None = None
    ) -> DataFrame:
        """Point estimates against the merged sketch — same one-sided
        error contract as the batch reader (pipeline/sketches.py)."""
        return cms_estimate(
            self.merged(as_of_batch), probes, self.col, self.depth,
            self.width,
        )

    def compact(self, target_bytes: int = 128 << 20) -> bool:
        """Fold per-epoch partitions into the sentinel (stream STOPPED;
        see :meth:`EpochTable.compact`)."""
        return self._table.compact(target_bytes)


HLL_SCHEMA = "register int, max_rho int"


class HllMaintainer:
    """Streaming distinct-count state: per-epoch HyperLogLog registers.

    The count-min sibling above answers "how OFTEN has key x appeared";
    this answers "how MANY distinct keys have appeared" — live unique
    users/streams/tokens — with the same two properties that make
    foreachBatch state safe: each epoch's registers are a deterministic
    function of that batch's rows (idempotent batch=N overwrite), and
    the stream-lifetime answer is a cell-wise fold of all epochs —
    element-wise MAX here, where count-min folds by addition.  Max is
    idempotent as well as associative, so even a hypothetically
    double-written batch cannot bias the estimate (count-min's addition
    relies on the overwrite discipline for that; HLL gets it for free).

    State is bounded at ``n_batches x 2^p`` rows and folds into the
    ``batch=-1`` sentinel via the shared compactor — row-preserving
    compaction composes with ANY cell-wise fold, so the same machinery
    serves both sketch kinds.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        col: str = "k",
        p: int = 10,
    ) -> None:
        self.col = col
        self.p = int(p)
        self._table = EpochTable(spark, path, HLL_SCHEMA)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._table.write(hll_build(batch, self.col, p=self.p), batch_id)

    def attach(self, stream: DataFrame, checkpoint: str, **trigger):
        """Wire onto a streaming DataFrame (one column: ``self.col``)."""
        return foreach_batch(stream, self.process_batch, checkpoint, trigger)

    def merged(self, as_of_batch: int | None = None) -> DataFrame:
        """Stream-lifetime registers: element-wise max over all epochs
        (through ``as_of_batch`` if given, see :meth:`EpochTable.read`)."""
        return (
            self._table.read(as_of_batch)
            .groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
        )

    def estimate(self, as_of_batch: int | None = None) -> float:
        """Current distinct-count estimate (one bounded-row collect)."""
        return float(
            hll_estimate(self.merged(as_of_batch), p=self.p).collect()[0][
                "hll_ndv"
            ]
        )

    def compact(self, target_bytes: int = 128 << 20) -> bool:
        """Fold per-epoch partitions into the sentinel (stream STOPPED;
        see :meth:`EpochTable.compact`)."""
        return self._table.compact(target_bytes)
