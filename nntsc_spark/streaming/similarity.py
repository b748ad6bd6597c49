"""Streaming maintenance of a persistent IVF-Flat ANN index.

An embedding corpus that grows continuously (each ingested document gets
a vector) needs its ANN index maintained INCREMENTALLY — re-quantizing
and rebuilding per batch is O(corpus) work per micro-batch.  The batch
primitives already exist in ``pipeline.similarity``; this module is the
thin Structured Streaming wiring, following the same
``foreachBatch`` + idempotent-per-batch-partition pattern as
``streaming.dedup`` and ``streaming.ingest``:

- each micro-batch runs :func:`~..pipeline.similarity.ivf_append` with
  ``batch_id = foreachBatch epoch + 1`` (epochs start at 0; batch 0 is
  reserved for the build) — the append is a dynamic partition overwrite
  of the batch's own (cell, append_batch) directories, so Structured
  Streaming's retry-after-crash re-runs land byte-identical instead of
  duplicating vectors: exactly-once end to end, no caller-side dedup;
- every append's drift stats row is recorded by the batch primitive;
  the maintainer exposes the latest verdict so an operator (or an
  alerting job reading ``{path}/stats``) can schedule re-quantization —
  deliberately NOT automatic: a rebuild is O(corpus) and belongs in a
  maintenance window, like storage.compact_fact.  The maintenance-window
  job itself is :func:`~..pipeline.similarity.ivfpq_maintain` (stats ->
  drifted? -> k-means|| retrain -> in-place rebuild, double-run
  idempotent); run it over the full current corpus when
  ``drift_flagged`` latches.

At 100 TB the corpus table stays ``partitionBy(cell)`` so query-time
probe pruning is directory-level regardless of how many appends have
accumulated; appends only ever touch O(batch) data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..pipeline.similarity import ivf_append, ivfpq_append
from . import foreach_batch


class _IndexMaintainer:
    """Shared foreachBatch wiring for persistent-ANN-index appends.

    ``last_result`` holds the most recent append's stats dict;
    ``drift_flagged`` latches True once any batch trips the drift
    tolerance, so a monitor polling the maintainer (or the stats table)
    can't miss a transient flag between polls.  Subclasses bind the
    batch primitive (IVF-Flat corpus append vs IVFADC codes append) —
    everything else, including the exactly-once epoch+1 batch keying,
    is identical.
    """

    #: the pipeline append primitive: fn(df, path, batch_id=, drift_tol=,
    #: id_col=, vec_col=) -> stats dict
    _append = None

    def __init__(
        self,
        path: str,
        drift_tol: float | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.path = path
        self.drift_tol = (
            self._default_drift_tol if drift_tol is None else drift_tol
        )
        self.id_col = id_col
        self.vec_col = vec_col
        self.last_result: dict | None = None
        self.drift_flagged = False

    def process_batch(self, df: DataFrame, batch_id: int) -> dict:
        """Append one micro-batch (idempotent under retry of the same
        ``batch_id``).  Empty batches are skipped without a stats row."""
        if df.isEmpty():
            return {"n_appended": 0, "needs_requantization": False}
        res = type(self)._append(
            df,
            self.path,
            batch_id=int(batch_id) + 1,
            drift_tol=self.drift_tol,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        self.last_result = res
        if res["needs_requantization"]:
            self.drift_flagged = True
        return res

    def start_stream(self, vec_stream: DataFrame, checkpoint: str):
        """Wire a streaming embedding source into the index."""
        return foreach_batch(vec_stream, self.process_batch, checkpoint)


class IvfIndexMaintainer(_IndexMaintainer):
    """foreachBatch hook appending a vector stream into a persisted
    IVF-Flat index built by
    :func:`~..pipeline.similarity.ivf_build_index`.  Stats dict:
    {n_appended, mean_best_cosine, build_mean_best_cosine,
    needs_requantization}."""

    _append = staticmethod(ivf_append)
    _default_drift_tol = 0.05


class IvfPqIndexMaintainer(_IndexMaintainer):
    """foreachBatch hook appending a vector stream into a persisted
    IVFADC index built by
    :func:`~..pipeline.similarity.ivfpq_build_index` — new vectors are
    assigned, residualed, and PQ-encoded against the frozen quantizer +
    codebooks, landing only in their own (cell, append_batch) code
    partitions.  Stats dict: {n_appended, mean_resid_norm,
    build_mean_resid_norm, needs_requantization} (drift = RELATIVE
    residual-norm growth beyond drift_tol)."""

    _append = staticmethod(ivfpq_append)
    _default_drift_tol = 0.25
