"""Incremental typo-canonicalization-map maintenance over a token stream.

The batch chain (``vocab_fuzzy`` -> ``vocab_canonical``) elects every
token's canonical form from the full corpus vocabulary; a live cleaning
pipeline needs that map maintained as new text arrives, without re-running
the fuzzy join over the whole vocabulary per micro-batch.  The key fact
that makes this incremental is that the PAIR RELATION decomposes exactly
by arrival order: an unordered fuzzy pair (a, b) is discovered exactly
once — in the epoch where its LATER-arriving member first appears —

- as a **novel x novel** pair when both tokens debut in the same batch
  (:func:`~..pipeline.dedup.edit_distance_pairs` over the batch's novel
  tokens), or
- as a **novel x prior** pair otherwise
  (:func:`~..pipeline.dedup.edit_distance_join` of the novel tokens
  against the accumulated vocabulary).

So per-epoch fuzzy work is proportional to the NOVEL tokens' blocked
neighborhoods — the "affected neighbourhoods" — never to the vocabulary;
a mature stream (few novel tokens per batch) pays almost nothing.  Counts
fold algebraically (groupBy sum over per-batch count partitions, the
count-min discipline from :mod:`.sketches`).

Write discipline is the shared streaming-state contract
(:mod:`.dedup`): every epoch OVERWRITES exactly its own ``batch=N``
partition of both tables, prior reads filter ``batch < N`` (the
compaction sentinel -1 always qualifies), and both per-epoch outputs are
deterministic functions of (batch rows, immutable prior partitions) — a
foreachBatch retry or a double-run rewrites identical files, so a crash
cannot double-count an epoch or duplicate a pair.

Serving (:meth:`CanonicalMapMaintainer.canonical_map`) re-runs only the
ELECTION — :func:`~..pipeline.dedup.fuzzy_canonical_map` over the merged
counts and accumulated pairs: one vocabulary-bounded WindowGroupLimit
window, cheap at any corpus size because its input is vocabulary-scale
state, not the corpus.  Re-electing everything at read time (rather than
tracking which tokens' elections a count change could flip) keeps the
serve path stateless and order-independent: the result is a pure function
of (merged counts, accumulated pairs), so stream-then-serve equals the
batch recompute by construction — pinned by
``test_canonical_stream_equals_batch``.

The reference has no fuzzy matching, let alone its maintenance
(stream identity is exact column equality, database.py:731-787); this is
the streaming sibling the cleaning pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

COUNTS_SCHEMA = "tok string, n long"
PAIRS_SCHEMA = "s1 string, s2 string, dist int"


class CanonicalMapMaintainer:
    """Maintains (counts, fuzzy pairs) state for one token stream and
    serves the canonical map derived from them."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        tok_col: str = "tok",
        max_dist: int = 2,
        q: int = 2,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.tok_col = tok_col
        self.max_dist = int(max_dist)
        self.q = int(q)

    # -- state reads --------------------------------------------------

    def _prior(self, sub: str, schema: str, batch_id: int) -> DataFrame:
        """Committed state before this epoch: explicit schema so a
        crash-left empty partition reads as zero rows; ONLY
        path-not-found maps to 'no state yet' (first epoch) — any other
        failure must raise so foreachBatch retries (the streaming-dedup
        lesson)."""
        from pyspark.errors import AnalysisException

        cols = [c.split()[0] for c in schema.split(", ")]
        try:
            df = self.spark.read.schema(schema + ", batch int").parquet(
                f"{self.path}/{sub}"
            )
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            return local_frame(self.spark, [], schema)
        return df.where(F.col("batch") < int(batch_id)).select(*cols)

    # -- epoch write --------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One epoch: overwrite this batch's counts partition, then
        discover exactly the pairs this batch's NOVEL tokens introduce.

        Both writes are deterministic in (batch rows, prior partitions):
        the counts are a pure aggregate of the batch, and the novel set
        is computed against ``batch < N`` state only — immutable by the
        overwrite discipline — so retries and double-runs land
        byte-identical state.
        """
        from ..pipeline.dedup import edit_distance_join, edit_distance_pairs

        bid = int(batch_id)
        counts = (
            batch.select(F.col(self.tok_col).cast("string").alias("tok"))
            .where(F.col("tok").isNotNull() & (F.col("tok") != ""))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        counts.write.mode("overwrite").parquet(
            f"{self.path}/counts/batch={bid}"
        )

        prior_vocab = (
            self._prior("counts", COUNTS_SCHEMA, bid)
            .select("tok")
            .distinct()
        )
        novel = (
            self.spark.read.schema(COUNTS_SCHEMA)
            .parquet(f"{self.path}/counts/batch={bid}")
            .select("tok")
            .join(prior_vocab, "tok", "left_anti")
        )
        self_pairs = edit_distance_pairs(
            novel, key_col="tok", max_dist=self.max_dist, q=self.q
        )
        cross = edit_distance_join(
            novel,
            prior_vocab,
            "tok",
            "tok",
            max_dist=self.max_dist,
            q=self.q,
        )
        cross_pairs = cross.select(
            F.least("tok", "tok_r").alias("s1"),
            F.greatest("tok", "tok_r").alias("s2"),
            F.col("dist").cast("int").alias("dist"),
        )
        self_pairs.unionByName(cross_pairs).write.mode("overwrite").parquet(
            f"{self.path}/pairs/batch={bid}"
        )

    def attach(self, stream: DataFrame, checkpoint: str, **trigger):
        """Wire onto a streaming DataFrame carrying ``self.tok_col``."""
        return (
            stream.writeStream.foreachBatch(
                lambda b, i: self.process_batch(b, i)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )

    # -- serve --------------------------------------------------------
    #
    # Torn-read contract: an epoch's parquet overwrite of its own
    # ``batch=N`` partition is NOT atomic, so a serve read CONCURRENT
    # with an in-flight epoch can observe a partially written batch=N
    # (committed partitions ``batch < N`` are immutable and always
    # consistent).  Readers that must be exact while the stream runs
    # pass ``as_of_batch`` = the last COMMITTED epoch id (e.g.
    # ``lastProgress["batchId"] - 1`` off the running query, or the
    # highest id recorded by their own bookkeeping); the compaction
    # sentinel -1 always qualifies.  ``as_of_batch=None`` (the default)
    # reads everything — exact whenever no epoch is mid-write, which is
    # the batch-recompute-equivalence contract the tests pin.
    #
    # SCOPE (r13 advice): ``as_of_batch`` protects against in-flight
    # EPOCH writes only — it is NOT safe against a CONCURRENT
    # ``compact()``.  The batch=-1 sentinel always passes the filter,
    # and compaction's overwrite-then-delete of the per-batch
    # partitions is itself non-atomic, so a serve racing a compaction
    # can see the merged batch=-1 state AND not-yet-deleted per-batch
    # partitions <= as_of and double-count them.  compact() must be
    # quiesced against serves (same run-with-the-stream-stopped
    # discipline the compactors already require).  After a compaction,
    # any ``as_of_batch`` below the compacted horizon RAISES (r14): the
    # sentinel holds every folded epoch and cannot be split
    # retroactively, so a historical prefix below the horizon no longer
    # exists — see ``dedup.check_as_of_visible``.

    def _read_state(
        self, sub: str, schema: str, as_of_batch: int | None
    ) -> DataFrame:
        from .dedup import check_as_of_visible

        check_as_of_visible(f"{self.path}/{sub}", as_of_batch)
        df = self.spark.read.schema(schema + ", batch int").parquet(
            f"{self.path}/{sub}"
        )
        if as_of_batch is not None:
            # partition-column predicate: prunes the in-flight (and any
            # future) batch directories at planning time
            df = df.where(F.col("batch") <= int(as_of_batch))
        return df

    def vocab(self, as_of_batch: int | None = None) -> DataFrame:
        """Stream-lifetime (tok, n): the algebraic fold of all epochs'
        count partitions (through ``as_of_batch`` if given — see the
        torn-read contract above)."""
        return (
            self._read_state("counts", COUNTS_SCHEMA, as_of_batch)
            .groupBy("tok")
            .agg(F.sum("n").alias("n"))
        )

    def pairs(self, as_of_batch: int | None = None) -> DataFrame:
        """Stream-lifetime fuzzy pairs.  ``distinct()`` is belt-and-
        braces: the arrival-order decomposition emits each unordered
        pair in exactly one epoch."""
        return (
            self._read_state("pairs", PAIRS_SCHEMA, as_of_batch)
            .select("s1", "s2", "dist")
            .distinct()
        )

    def canonical_map(self, as_of_batch: int | None = None) -> DataFrame:
        """(tok, canonical, canonical_n) for every token seen — the same
        election as the batch ``vocab_canonical`` chain, over the
        incrementally-maintained state.  With ``as_of_batch`` the
        election runs over exactly the committed epochs <= it, so a
        serve concurrent with an in-flight epoch cannot see torn
        state."""
        from ..pipeline.dedup import fuzzy_canonical_map

        return fuzzy_canonical_map(
            self.vocab(as_of_batch), self.pairs(as_of_batch)
        )

    def compact(self, target_bytes: int = 128 << 20) -> bool:
        """Fold both tables' per-batch partitions into the batch=-1
        sentinel (stream STOPPED; compact_batched_table's contract —
        row-preserving, so the sum/distinct folds above are unchanged)."""
        from .dedup import compact_batched_table

        a = compact_batched_table(
            self.spark, self.path, "counts", COUNTS_SCHEMA, target_bytes
        )
        b = compact_batched_table(
            self.spark, self.path, "pairs", PAIRS_SCHEMA, target_bytes
        )
        return a or b
