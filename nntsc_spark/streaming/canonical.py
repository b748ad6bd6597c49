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

Write discipline is :class:`~..storage.EpochTable`'s: every epoch
OVERWRITES exactly its own partition of both tables, reads only the
epochs before it, and both per-epoch outputs are deterministic functions
of (batch rows, immutable prior partitions) — a foreachBatch retry or a
double-run rewrites identical files, so a crash cannot double-count an
epoch or duplicate a pair.

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

from ..storage import EpochTable
from . import foreach_batch

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
        self.tok_col = tok_col
        self.max_dist = int(max_dist)
        self.q = int(q)
        self._counts = EpochTable(spark, f"{path}/counts", COUNTS_SCHEMA)
        self._pairs = EpochTable(spark, f"{path}/pairs", PAIRS_SCHEMA)

    # -- epoch write --------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One epoch: write this batch's counts, then discover exactly
        the pairs this batch's NOVEL tokens introduce.

        Both writes are deterministic in (batch rows, prior partitions):
        the counts are a pure aggregate of the batch, and the novel set
        is computed against the prior epochs' state only — immutable by
        the overwrite discipline — so retries and double-runs land
        byte-identical state.
        """
        from ..pipeline.dedup import edit_distance_join, edit_distance_pairs

        counts = (
            batch.select(F.col(self.tok_col).cast("string").alias("tok"))
            .where(F.col("tok").isNotNull() & (F.col("tok") != ""))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        self._counts.write(counts, batch_id)

        prior_vocab = self._counts.prior(batch_id).select("tok").distinct()
        novel = counts.select("tok").join(prior_vocab, "tok", "left_anti")
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
        self._pairs.write(self_pairs.unionByName(cross_pairs), batch_id)

    def attach(self, stream: DataFrame, checkpoint: str, **trigger):
        """Wire onto a streaming DataFrame carrying ``self.tok_col``."""
        return foreach_batch(stream, self.process_batch, checkpoint, trigger)

    # -- serve --------------------------------------------------------
    #
    # ``as_of_batch`` serves the committed epochs <= it; see
    # EpochTable's contract for when a reader needs it.

    def vocab(self, as_of_batch: int | None = None) -> DataFrame:
        """Stream-lifetime (tok, n): the algebraic fold of all epochs'
        count partitions."""
        return (
            self._counts.read(as_of_batch)
            .groupBy("tok")
            .agg(F.sum("n").alias("n"))
        )

    def pairs(self, as_of_batch: int | None = None) -> DataFrame:
        """Stream-lifetime fuzzy pairs.  ``distinct()`` is belt-and-
        braces: the arrival-order decomposition emits each unordered
        pair in exactly one epoch."""
        return self._pairs.read(as_of_batch).distinct()

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
        """Fold both tables' per-epoch partitions into the sentinel
        (stream STOPPED; see :meth:`EpochTable.compact` — row-preserving,
        so the sum/distinct folds above are unchanged)."""
        a = self._counts.compact(target_bytes)
        b = self._pairs.compact(target_bytes)
        return a or b
