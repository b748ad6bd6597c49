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
- every write is an OVERWRITE of this batch's own partition
  (``.../batch=N``): foreachBatch retries re-run the same deterministic
  computation and overwrite the same directories, so a crash between the
  corpus write and the index write cannot lose documents or double-insert
  them.  Index reads exclude the current batch's partition, so a partial
  write from a failed attempt can never make a batch collide with itself.

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
from ..session import local_frame

MINHASH_K = 8
SIG_COLS = [f"mh{i}" for i in range(MINHASH_K)]


def compact_batched_table(
    spark: SparkSession,
    parent: str,
    name: str,
    schema: str | None = None,
    target_bytes: int = 128 << 20,
) -> bool:
    """Collapse a ``{parent}/{name}/batch=N`` table's accumulated per-batch
    partitions into ~target-size files under a single ``batch=-1`` — the
    streaming-state counterpart of :func:`~..storage.compact_fact` (per-
    commit micro-batches leave one file set per batch forever; every
    index probe then pays the file-listing tax on ALL of history).

    The sentinel is ``-1`` (mirroring ``storage.COMPACTED_BATCH``), NOT 0:
    foreachBatch epochs start at 0 and each epoch OVERWRITES its own
    ``batch=N`` directory for idempotent retries, so a stream restarted
    with a fresh checkpoint (epoch ids reset to 0) would silently wipe a
    ``batch=0`` merge — every real epoch id is >= 0, so -1 can never
    collide, while still satisfying every epoch's ``batch < id``
    prior-filter.  Corollary: ALWAYS compact before restarting a stream
    with a FRESH checkpoint — uncompacted ``batch>=0`` partitions are
    invisible to the restarted epochs' prior-filter and are overwritten
    one by one as the new epoch ids climb past them; folding them into
    the sentinel first preserves both the state and the dedup guarantee.
    Run with the stream STOPPED: Structured
    Streaming's checkpoint guarantees committed epochs never replay,
    which is what makes merging them safe — same contract as the other
    compactors.  Idempotent (single-batch tables at the file target are
    skipped); crash-safe via the same staged-swap + recovery sweep as
    compact_fact, applied at the table-directory level (one rename
    swaps the whole table, so there is no torn multi-partition state).

    Records the COMPACTION HORIZON — the highest real epoch id folded
    into the sentinel — in a ``_compaction_horizon`` sidecar swapped in
    atomically with the data; serve paths reject ``as_of_batch`` below
    it (:func:`check_as_of_visible`) instead of silently serving the
    full compacted state as a "prefix".

    Returns True if the table was rewritten.
    """
    import math
    import os
    import shutil
    import uuid
    from pathlib import Path

    from ..storage import (
        COMPACTED_BATCH,
        _partition_parquet_files,
        _recover_compaction,
    )

    proot = Path(parent)
    if not proot.exists():
        return False
    _recover_compaction(proot)
    root = proot / name
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
    # Horizon = the highest REAL epoch id this fold absorbs, carried
    # forward across re-compactions (a file-count-only re-fold of an
    # already-compacted table must not lose the recorded horizon when
    # the old root — marker included — moves to trash).  Serve paths
    # enforce it via :func:`check_as_of_visible`.
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
    reader = spark.read.schema(schema + ", batch int") if schema else spark.read
    df = reader.parquet(str(root)).drop("batch")
    stage = proot / f".compact-stage-{uuid.uuid4().hex[:8]}"
    df.coalesce(goal).write.mode("overwrite").parquet(str(stage / "data"))
    dest = stage / "part" / f"batch={COMPACTED_BATCH}"
    dest.mkdir(parents=True)
    for f in (stage / "data").glob("*.parquet"):
        os.rename(f, dest / f.name)
    if horizon is not None:
        # inside stage/part so the single directory rename below swaps
        # data and marker ATOMICALLY; the underscore prefix keeps Spark's
        # file index from reading it as data (same convention as _SUCCESS)
        (stage / "part" / HORIZON_MARKER).write_text(str(horizon))
    trash = proot / f".compact-trash-{name}"
    os.rename(root, trash)
    os.rename(stage / "part", root)
    shutil.rmtree(trash)
    shutil.rmtree(stage, ignore_errors=True)
    return True


#: sidecar recording the highest epoch id folded into a table's
#: ``batch=-1`` sentinel; written atomically with the compacted data
HORIZON_MARKER = "_compaction_horizon"


def compaction_horizon(root) -> int | None:
    """Highest epoch id folded into ``root``'s ``batch=-1`` sentinel, or
    None if the table was never compacted (or predates the marker)."""
    from pathlib import Path

    try:
        return int((Path(root) / HORIZON_MARKER).read_text().strip())
    except (OSError, ValueError):
        return None


def check_as_of_visible(root, as_of_batch: int | None) -> None:
    """Enforce the committed-prefix serve contract against compaction —
    the r13-advice gap, upgraded from a documented caveat to an error.

    Once epochs ``<= H`` are folded into the ``batch=-1`` sentinel they
    cannot be split retroactively: the sentinel always passes a
    ``batch <= as_of_batch`` filter, so serving ``as_of_batch < H``
    would silently return the FULL compacted state where the caller
    asked for a historical prefix.  Every maintainer serve path calls
    this before building its read, so that mismatch raises instead.

    ``as_of_batch >= H`` stays exact: the compacted state IS the
    prefix ``<= H``, and the per-batch partitions above it filter as
    before.  The OTHER half of the r13 advice is unchanged — this
    guards state at rest, not a serve racing a live ``compact()``
    (whose overwrite-then-delete can transiently double-count);
    compaction still requires the stream-stopped quiesce discipline.
    """
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

    #: empty-index schemas (single source of truth: SIG_COLS), so a missing
    #: subdirectory reads as zero rows rather than a None every consumer
    #: must branch on — crucially, the bands and sigs dirs can legitimately
    #: disagree on existence after a crash between their writes, and the
    #: retry must still run.  ``batch`` is the per-batch partition column.
    _SCHEMAS = {
        "bands": "doc_id long, band int, band_hash string",
        "sigs": "doc_id long, " + ", ".join(f"{c} long" for c in SIG_COLS),
    }

    def _read_prior(self, sub: str, batch_id: int) -> DataFrame:
        """Index partitions from batches BEFORE this one (empty if absent).

        Probing by read (not os.path) works for any filesystem URI
        (hdfs://, s3a://).  The schema is passed EXPLICITLY: a crash can
        leave a subdir holding only an uncommitted ``_temporary`` (zero
        data files), and schema inference there raises
        UNABLE_TO_INFER_SCHEMA — with the schema supplied the read returns
        zero rows instead, so the repairing overwrite can run.  ONLY
        path-not-found maps to 'no index yet'; any other failure
        (transient store error, corrupt footer) must raise so foreachBatch
        retries the batch — swallowing it would silently skip cross-corpus
        dedup and admit permanent duplicates.
        """
        from pyspark.errors import AnalysisException

        schema = self._SCHEMAS[sub] + ", batch int"
        cols = [c.split()[0] for c in self._SCHEMAS[sub].split(", ")]
        try:
            df = self.spark.read.schema(schema).parquet(
                f"{self.index_path}/{sub}"
            )
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            return local_frame(self.spark, [], self._SCHEMAS[sub])
        return df.where(F.col("batch") < int(batch_id)).select(*cols)

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
        prior_bands = self._read_prior("bands", batch_id)
        prior_sigs = self._read_prior("sigs", batch_id).select(
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
        # idempotent per-batch OVERWRITES: a retry rewrites exactly these
        # directories with identical (deterministic) content
        accepted.write.mode("overwrite").parquet(
            f"{self.out_path}/batch={int(batch_id)}"
        )
        acc_ids = accepted.select("doc_id")
        bands.join(acc_ids, "doc_id", "left_semi").write.mode("overwrite").parquet(
            f"{self.index_path}/bands/batch={int(batch_id)}"
        )
        sigs.join(acc_ids, "doc_id", "left_semi").write.mode("overwrite").parquet(
            f"{self.index_path}/sigs/batch={int(batch_id)}"
        )
        return accepted

    def compact_index(self, target_bytes: int = 128 << 20) -> list[str]:
        """Merge the per-batch band/signature/corpus partitions into
        single ``batch=-1`` tables (see :func:`compact_batched_table`).
        Run with the stream stopped; returns the tables rewritten."""
        from pathlib import Path

        done = []
        for parent, name, schema in [
            (self.index_path, "bands", self._SCHEMAS["bands"]),
            (self.index_path, "sigs", self._SCHEMAS["sigs"]),
            (str(Path(self.out_path).parent), Path(self.out_path).name, None),
        ]:
            if compact_batched_table(
                self.spark, parent, name, schema, target_bytes
            ):
                done.append(name)
        return done

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

    def _read_accepted_schema(self):
        import json as _json
        from pathlib import Path

        from pyspark.sql.types import IntegerType, StructField, StructType

        try:
            p = Path(self.out_path) / "_accepted_schema.json"
            if not p.exists():
                return None
            schema = StructType.fromJson(_json.loads(p.read_text()))
        except (OSError, ValueError, KeyError):
            return None
        if "batch" not in schema.fieldNames():
            # the partition column, typed as partition discovery would
            schema = StructType(
                schema.fields + [StructField("batch", IntegerType())]
            )
        return schema

    def corpus(self, as_of_batch: int | None = None) -> DataFrame:
        """All accepted documents across batches.

        Raises FileNotFoundError (with a clear message) before the first
        batch commits — the accepted-docs schema equals the INPUT schema,
        which the index doesn't know, so an empty frame can't be built.
        ``as_of_batch`` filters to committed epochs <= it (sentinel -1
        qualifies) — the torn-read escape hatch for reads concurrent
        with an in-flight epoch's non-atomic batch=N overwrite.  The
        schema comes from the sidecar written at first commit when
        available (see :meth:`_persist_accepted_schema`), so the
        ``as_of_batch`` read plans without sampling any in-flight
        partition's footers; the batch<=N partition filter then prunes
        the in-flight directory before any data file is opened.
        Raises ValueError if ``as_of_batch`` predates the compaction
        horizon (see :func:`check_as_of_visible`).
        """
        from pyspark.errors import AnalysisException

        check_as_of_visible(self.out_path, as_of_batch)
        reader = self.spark.read
        cached = self._read_accepted_schema()
        if cached is not None:
            reader = reader.schema(cached)
        try:
            df = reader.parquet(self.out_path)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            raise FileNotFoundError(
                f"no batches committed yet under {self.out_path}"
            ) from exc
        if as_of_batch is not None:
            df = df.where(F.col("batch") <= int(as_of_batch))
        return df.drop("batch")

    def start_stream(
        self, doc_stream: DataFrame, checkpoint: str, text_col: str = "text"
    ):
        """Wire a streaming document source into the incremental filter."""
        return (
            doc_stream.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(
                lambda df, bid: self.process_batch(df, bid, text_col) and None
            )
            .trigger(availableNow=True)
            .start()
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
    cluster scale.  Crash safety mirrors :class:`IncrementalDeduper`:
    every write OVERWRITES this batch's own partition with deterministic
    content, and index reads exclude the current batch, so retries
    re-produce identical directories and a batch can never collide with
    its own partial writes.

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
        self.spark = spark
        self.index_path = index_path
        self.out_path = out_path
        self.w = w

    _WIN_SCHEMA = "win_hash long, win_hash2 long"
    _KEYS = ["win_hash", "win_hash2"]

    def _prior_wins(self, batch_id: int) -> DataFrame:
        """Fingerprints from batches BEFORE this one (empty if absent);
        explicit schema + PATH_NOT_FOUND-only mapping as in
        IncrementalDeduper._read_prior (crash-residue semantics)."""
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.schema(self._WIN_SCHEMA + ", batch int").parquet(
                f"{self.index_path}/wins"
            )
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            return local_frame(self.spark, [], self._WIN_SCHEMA)
        return df.where(F.col("batch") < int(batch_id)).select(*self._KEYS)

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
        prior = self._prior_wins(batch_id)
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

        spans.write.mode("overwrite").parquet(
            f"{self.out_path}/batch={int(batch_id)}"
        )
        (
            wins.select(*self._KEYS).dropDuplicates()
            .join(prior, self._KEYS, "left_anti")
            .write.mode("overwrite")
            .parquet(f"{self.index_path}/wins/batch={int(batch_id)}")
        )
        return spans

    _SPANS_SCHEMA = (
        "doc_id long, span_start long, span_end long, n_windows long"
    )

    def compact_index(self, target_bytes: int = 128 << 20) -> list[str]:
        """Merge the per-batch fingerprint/span partitions into single
        ``batch=-1`` tables (see :func:`compact_batched_table`).  Run with
        the stream stopped; returns the tables rewritten."""
        from pathlib import Path

        done = []
        for parent, name, schema in [
            (self.index_path, "wins", self._WIN_SCHEMA),
            (str(Path(self.out_path).parent), Path(self.out_path).name, None),
        ]:
            if compact_batched_table(
                self.spark, parent, name, schema, target_bytes
            ):
                done.append(name)
        return done

    def spans(self, as_of_batch: int | None = None) -> DataFrame:
        """All detected spans across batches (empty frame with the right
        schema before any batch has committed, matching the class's
        missing-subdirectory-reads-as-zero-rows contract).
        ``as_of_batch`` filters to committed epochs <= it — the
        torn-read contract shared by every maintainer serve path
        (ValueError below the compaction horizon, see
        :func:`check_as_of_visible`)."""
        from pyspark.errors import AnalysisException

        check_as_of_visible(self.out_path, as_of_batch)
        try:
            df = self.spark.read.parquet(self.out_path)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            return local_frame(self.spark, [], self._SPANS_SCHEMA)
        if as_of_batch is not None:
            df = df.where(F.col("batch") <= int(as_of_batch))
        return df.drop("batch")

    def start_stream(
        self, doc_stream: DataFrame, checkpoint: str, text_col: str = "text"
    ):
        return (
            doc_stream.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(
                lambda df, bid: self.process_batch(df, bid, text_col) and None
            )
            .trigger(availableNow=True)
            .start()
        )
