"""Incremental corpus deduplication over a document stream.

A training-data pipeline ingests documents continuously; dedup must be
INCREMENTAL — each arriving batch is checked against everything already
accepted, never by re-running a global pass.  Spark-first shape:

- ``foreachBatch`` (same batch/streaming-parity pattern as
  ``streaming.ingest.CollectionIngestor``) reuses the batch MinHash
  machinery from ``pipeline.dedup`` on each micro-batch,
- the accumulated state is a persistent LSH index on disk: a **band
  table** ``(band, band_hash, doc_id)`` for candidate generation and a
  **signature table** ``(doc_id, mh0..mh7)`` for verification — both tiny
  relative to the corpus (bands x 3 narrow columns; k longs per doc),
- a batch doc is a *candidate* iff any of its bands equi-joins the index
  (bucket-local, never all-pairs) or collides with a lower doc_id inside
  its own batch; a candidate is *dropped* only when signature
  verification agrees: the fraction of matching minhash components is an
  unbiased Jaccard estimator, and the default gate (>= half of k
  components) cuts the raw band-collision false-positive rate by ~30x at
  moderate similarity while keeping near-certain recall at j >= 0.8.
  (Exact-Jaccard verification would require storing the shingle table —
  corpus-sized state; the signature estimate is the standard
  space/precision trade and its coarseness (increments of 1/k) is
  documented here rather than hidden.)
- every table is a :class:`~..storage.EpochTable`: each epoch overwrites
  its own partition with deterministic content and reads only the epochs
  before it, so a crash between the corpus write and the index write
  cannot lose documents or double-insert them, and a partial write from a
  failed attempt can never make a batch collide with itself.

At scale the band index is bucketable by (band, band_hash) so the probe
join co-locates; state lives in tables, not executor memory, so it
survives restarts and is shared by any number of readers.

Exact dedup on an unbounded stream is the degenerate case (band = content
hash): ``exact_dedup_stream`` wraps Structured Streaming's native
``dropDuplicates`` state instead, with an optional watermark to bound
state for feeds where duplicates only arrive near-in-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.dedup import lsh_bands, minhash_signatures, shingles
from ..storage import EpochTable
from . import foreach_batch

MINHASH_K = 8
SIG_COLS = [f"mh{i}" for i in range(MINHASH_K)]


def exact_dedup_stream(
    docs: DataFrame, text_col: str = "text", watermark: tuple[str, str] | None = None
) -> DataFrame:
    """First-occurrence-wins exact dedup on a streaming DataFrame.

    Without a watermark the dedup state holds one entry per distinct
    content hash forever (exact global dedup — state grows with corpus
    size, the honest cost of exactness).  With ``watermark=(ts_col,
    delay)`` state is bounded to the watermark horizon: right for feeds
    where duplicates arrive close together in event time.
    """
    hashed = docs.withColumn("content_hash", F.md5(F.col(text_col)))
    if watermark is not None:
        ts_col, delay = watermark
        return hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    return hashed.dropDuplicates(["content_hash"])


def signature_match_count(a_prefix: str = "", b_prefix: str = "b_") -> F.Column:
    """Number of equal minhash components between two signature column
    sets — ``count / k`` is the unbiased Jaccard estimate."""
    terms = [
        F.when(
            F.col(f"{a_prefix}mh{i}") == F.col(f"{b_prefix}mh{i}"), 1
        ).otherwise(0)
        for i in range(MINHASH_K)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


class IncrementalDeduper:
    """Persistent-LSH-index incremental near-dup filter (see module doc)."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        out_path: str,
        min_matches: int = MINHASH_K // 2,
    ) -> None:
        self.spark = spark
        self.index_path = index_path
        self.out_path = out_path
        #: signature components that must agree to confirm a candidate
        #: (est. jaccard >= min_matches/k)
        self.min_matches = min_matches
        self._bands = EpochTable(
            spark, f"{index_path}/bands", self._SCHEMAS["bands"]
        )
        self._sigs = EpochTable(
            spark, f"{index_path}/sigs", self._SCHEMAS["sigs"]
        )

    #: index schemas (single source of truth: SIG_COLS), so a missing
    #: subdirectory reads as zero rows rather than a None every consumer
    #: must branch on — crucially, the bands and sigs dirs can legitimately
    #: disagree on existence after a crash between their writes, and the
    #: retry must still run.
    _SCHEMAS = {
        "bands": "doc_id long, band int, band_hash string",
        "sigs": "doc_id long, " + ", ".join(f"{c} long" for c in SIG_COLS),
    }

    def process_batch(
        self, docs: DataFrame, batch_id: int = 0, text_col: str = "text"
    ) -> DataFrame:
        """Accept-or-drop one micro-batch; returns the accepted docs.

        Candidates (all equi-joins on (band, band_hash)):
        1. any band collides with the persisted index,
        2. any band collides with a LOWER doc_id in this batch
           (min-survivor, deterministic under retry).
        A candidate is dropped only if >= ``min_matches`` of its minhash
        components agree with the collided doc's.
        """
        docs = docs.localCheckpoint()  # consumed by several jobs
        sigs = minhash_signatures(
            shingles(docs, text_col), MINHASH_K
        ).localCheckpoint()
        # bands feed four consumers (index probe, both self-join sides, the
        # index write) — materialize once
        bands = lsh_bands(sigs).localCheckpoint()

        other_sigs = [F.col(c).alias(f"b_{c}") for c in SIG_COLS]
        prior_bands = self._bands.prior(batch_id)
        prior_sigs = self._sigs.prior(batch_id).select(
            F.col("doc_id").alias("other_id"), *other_sigs
        )
        vs_index = (
            bands.join(
                prior_bands.select(
                    "band", "band_hash", F.col("doc_id").alias("other_id")
                ),
                ["band", "band_hash"],
            )
            .select("doc_id", "other_id")
            .dropDuplicates()
            .join(prior_sigs, "other_id")
        )

        b2 = bands.select(
            "band", "band_hash", F.col("doc_id").alias("other_id")
        )
        vs_batch = (
            bands.join(b2, ["band", "band_hash"])
            .where(F.col("other_id") < F.col("doc_id"))
            .select("doc_id", "other_id")
            .dropDuplicates()
            .join(
                sigs.select(F.col("doc_id").alias("other_id"), *other_sigs),
                "other_id",
            )
        )
        pairs = vs_index.unionByName(vs_batch)

        dups = (
            pairs.join(sigs, "doc_id")
            .where(signature_match_count() >= self.min_matches)
            .select("doc_id")
            .dropDuplicates()
        )
        accepted = docs.join(dups, "doc_id", "left_anti").localCheckpoint()

        # schema sidecar first: a batch RETYPING a column must fail HERE,
        # before any data file with the conflicting physical type lands in
        # the table (a sidecar that outruns a crashed data write is
        # harmless — explicit-schema reads serve the extra column as null)
        self._persist_accepted_schema(accepted)
        self._corpus().write(accepted, batch_id)
        acc_ids = accepted.select("doc_id")
        self._bands.write(bands.join(acc_ids, "doc_id", "left_semi"), batch_id)
        self._sigs.write(sigs.join(acc_ids, "doc_id", "left_semi"), batch_id)
        return accepted

    def compact_index(self, target_bytes: int = 128 << 20) -> list[str]:
        """Merge the per-epoch band/signature/corpus partitions into the
        compaction sentinel (see :meth:`EpochTable.compact`).  Run with
        the stream stopped; returns the tables rewritten."""
        from pathlib import Path

        return [
            Path(t.root).name
            for t in (self._bands, self._sigs, self._corpus())
            if t.compact(target_bytes)
        ]

    def _persist_accepted_schema(self, accepted: DataFrame) -> None:
        """Cache the accepted-docs schema next to the table (atomically
        via temp+rename; the leading underscore keeps Spark's file index
        from treating it as data).  Serve-time reads then pass it
        EXPLICITLY instead of inferring: with ``as_of_batch``,
        planning-time inference could still sample a footer of the
        in-flight ``batch=N`` partition being non-atomically overwritten
        — the torn-read hatch itself could throw (r13 advice).

        REVALIDATED on every commit (r14 advice): a write-once sidecar
        silently served stale schemas once the accepted-docs schema
        evolved.  A new batch that ADDS columns widens the sidecar to the
        union (older partitions read those columns as null, the standard
        parquet evolution); a batch that RETYPES a column raises — mixed
        physical types across partitions cannot be served by one explicit
        schema and must fail the batch loudly, not at some later read.
        IO errors stay best-effort for local paths (this repo's storage
        layer); when the sidecar is absent the serve read falls back to
        inference."""
        import json as _json
        from pathlib import Path

        from pyspark.sql.types import StructType

        new_fields = {f.name: f for f in accepted.schema.fields}
        merged = list(accepted.schema.fields)
        try:
            p = Path(self.out_path) / "_accepted_schema.json"
            if p.exists():
                prior = StructType.fromJson(_json.loads(p.read_text()))
                retyped = [
                    f.name
                    for f in prior.fields
                    if f.name in new_fields
                    and new_fields[f.name].dataType != f.dataType
                ]
                if retyped:
                    raise ValueError(
                        f"accepted-docs schema retyped columns {retyped} "
                        f"vs the committed sidecar under {self.out_path}; "
                        "mixed physical types across batch partitions are "
                        "unservable — migrate the table instead"
                    )
                # union: keep prior-only columns (null in new partitions)
                merged += [
                    f for f in prior.fields if f.name not in new_fields
                ]
                if [f.name for f in merged] == [
                    f.name for f in prior.fields
                ] and len(merged) == len(prior.fields):
                    return  # unchanged: nothing to rewrite
            # the sidecar now commits BEFORE the first data write, so the
            # table directory may not exist yet on batch 0
            p.parent.mkdir(parents=True, exist_ok=True)
            tmp = p.with_name("_accepted_schema.json.tmp")
            tmp.write_text(_json.dumps(StructType(merged).jsonValue()))
            tmp.rename(p)
        except OSError:
            pass

    def _corpus(self) -> EpochTable:
        """The accepted-docs table, typed by the schema sidecar (inferred
        when there is none)."""
        import json as _json
        from pathlib import Path

        from pyspark.sql.types import StructType

        try:
            p = Path(self.out_path) / "_accepted_schema.json"
            schema = StructType.fromJson(_json.loads(p.read_text())).toDDL()
        except (OSError, ValueError, KeyError):
            schema = None
        return EpochTable(self.spark, self.out_path, schema)

    def corpus(self, as_of_batch: int | None = None) -> DataFrame:
        """All accepted documents across batches (through
        ``as_of_batch`` if given, see :meth:`EpochTable.read`).

        Raises FileNotFoundError before the first batch commits — the
        accepted-docs schema equals the INPUT schema, which the index
        doesn't know, so an empty frame can't be built.  The schema comes
        from the sidecar written at first commit when available (see
        :meth:`_persist_accepted_schema`), so the ``as_of_batch`` read
        plans without sampling any in-flight partition's footers.
        """
        return self._corpus().read(as_of_batch)

    def start_stream(
        self, doc_stream: DataFrame, checkpoint: str, text_col: str = "text"
    ):
        """Wire a streaming document source into the incremental filter."""
        return foreach_batch(
            doc_stream,
            lambda df, bid: self.process_batch(df, bid, text_col),
            checkpoint,
        )


class IncrementalSpanIndex:
    """Incremental repeated-SPAN detection over a document stream — the
    streaming parity of :func:`pipeline.dedup.duplicate_spans`.

    Each micro-batch's spans are detected against everything already
    indexed plus the batch itself: a w-token window is *duplicated* when
    its fingerprint exists in the persistent index (seen in any prior
    batch) or occurs >= 2 times within the batch.  Per-doc hits then merge
    into maximal spans with the same gaps-and-islands as the batch
    operator, so batch and streaming agree on span geometry by
    construction (shared ``token_windows`` / ``merge_spans``).

    State is the DISTINCT window-fingerprint set as two 60-bit md5
    halves (120 bits total: at a 100 TB corpus' ~2^40+ distinct windows
    the birthday bound on a single 60-bit key is ~2^30 — real collisions
    that would flag never-repeated text as duplicated; at 120 bits the
    collision odds are negligible) —
    token-scale, the honest cost of exact substring dedup (this is the
    suffix-array analogue; the minhash band index cannot answer verbatim
    window membership).  Stored 8 bytes a row, only NEW fingerprints per
    batch (anti-join against the prior index), bucketable by hash at
    cluster scale.  Crash safety is :class:`~..storage.EpochTable`'s, as
    for :class:`IncrementalDeduper`.

    Detection is FORWARD-ONLY, the streaming-inherent asymmetry: the
    first occurrence of a passage is not retro-flagged when its duplicate
    arrives in a later batch (that batch's copy is).  For windows of the
    CURRENT batch's docs, prior-index + in-batch membership equals global
    occurrence >= 2, so per-batch results match the batch operator
    restricted to that batch's documents.
    """

    def __init__(
        self, spark: SparkSession, index_path: str, out_path: str, w: int = 10
    ) -> None:
        self.index_path = index_path
        self.out_path = out_path
        self.w = w
        self._wins = EpochTable(spark, f"{index_path}/wins", self._WIN_SCHEMA)
        self._spans = EpochTable(spark, out_path, self._SPANS_SCHEMA)

    _WIN_SCHEMA = "win_hash long, win_hash2 long"
    _SPANS_SCHEMA = (
        "doc_id long, span_start long, span_end long, n_windows long"
    )
    _KEYS = ["win_hash", "win_hash2"]

    def process_batch(
        self, docs: DataFrame, batch_id: int = 0, text_col: str = "text"
    ) -> DataFrame:
        """Detect spans for one micro-batch and grow the index; returns
        (doc_id, span_start, span_end, n_windows) for the batch's docs."""
        from ..pipeline.dedup import merge_spans, token_windows

        # both 60-bit halves of one md5: one hash computation, 120-bit key
        wins = (
            token_windows(docs, text_col, self.w)
            .withColumn("_md5", F.md5(F.col("win")))
            .withColumn(
                "win_hash",
                F.conv(F.substring("_md5", 1, 15), 16, 10).cast("long"),
            )
            .withColumn(
                "win_hash2",
                F.conv(F.substring("_md5", 17, 15), 16, 10).cast("long"),
            )
            .drop("win", "_md5")
            .localCheckpoint()  # feeds dup-detection, hits, and the index write
        )
        prior = self._wins.prior(batch_id)
        in_batch = (
            wins.groupBy(*self._KEYS).count()
            .where(F.col("count") >= 2)
            .select(*self._KEYS)
        )
        vs_index = (
            wins.select(*self._KEYS).dropDuplicates()
            .join(prior, self._KEYS, "left_semi")
        )
        dup_hashes = in_batch.unionByName(vs_index).dropDuplicates()
        hits = wins.join(dup_hashes, self._KEYS).select(
            "doc_id", "s", (F.col("s") + F.lit(self.w - 1)).alias("e")
        )
        spans = merge_spans(hits).localCheckpoint()

        self._spans.write(spans, batch_id)
        self._wins.write(
            wins.select(*self._KEYS).dropDuplicates()
            .join(prior, self._KEYS, "left_anti"),
            batch_id,
        )
        return spans

    def compact_index(self, target_bytes: int = 128 << 20) -> list[str]:
        """Merge the per-epoch fingerprint/span partitions into the
        compaction sentinel (see :meth:`EpochTable.compact`).  Run with
        the stream stopped; returns the tables rewritten."""
        from pathlib import Path

        return [
            Path(t.root).name
            for t in (self._wins, self._spans)
            if t.compact(target_bytes)
        ]

    def spans(self, as_of_batch: int | None = None) -> DataFrame:
        """All detected spans across batches (through ``as_of_batch`` if
        given, see :meth:`EpochTable.read`); empty before any batch has
        committed."""
        return self._spans.read(as_of_batch)

    def start_stream(
        self, doc_stream: DataFrame, checkpoint: str, text_col: str = "text"
    ):
        return foreach_batch(
            doc_stream,
            lambda df, bid: self.process_batch(df, bid, text_col),
            checkpoint,
        )
