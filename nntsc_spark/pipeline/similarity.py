"""Similarity search over an embedding column (array<float>).

- ``brute_force_topk``: exact cosine top-k of every query vector against the
  corpus.  The query set is broadcast; the corpus is scanned once; ranking
  is a per-query window over the (small) score set.  This is the correctness
  baseline and is oracle-checked against DuckDB's list_cosine_similarity.
- ``lsh_topk``: the scale path — multi-table random-hyperplane LSH.  Each
  vector gets L independent B-bit signatures from deterministic md5-derived
  hyperplanes; candidates come only from the query's buckets, then exact
  cosine re-ranks.  At 100 TB this turns a full scan per query into L
  bucket-local lookups; recall is tunable via bits/tables (unit-tested
  against the brute-force baseline).

Per-pair dot products use ``F.zip_with`` + ``F.aggregate`` (JVM-side array
folds); bulk all-pairs work uses Arrow-batched numpy GEMM (see
``brute_force_near_duplicates``) because interpreted lambda folds lose to
BLAS by ~100x on dense linear algebra.
"""

from __future__ import annotations

import hashlib
import logging

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

log = logging.getLogger(__name__)


#: SQL text -> parsed Column, valid for one SparkContext (see expr_cached)
_EXPR_CACHE: dict[str, Column] = {}
_EXPR_CACHE_CTX = None
_EXPR_CACHE_CAP = 512


def expr_cached(sql: str) -> Column:
    """``F.expr`` with a per-SparkContext memo of the parsed Column.

    The ANN/SemDeDup family inlines its quantizers and codebooks as SQL
    literal text (the pass must stay a pure projection over the scan), so
    a single query construction ships and PARSES tens of KB of SQL —
    measured ~1.3 s of driver time per ``ivfpq_residuals`` construction,
    paid again on EVERY re-construction of the same plan (every bench
    rep, every registry query sharing the quantizer).  A parsed Column is
    an immutable unresolved-expression handle, reusable across any number
    of plans in the same JVM, so memoizing by SQL text removes the
    re-parse without changing a single plan node (optimization guide
    §1.2: per-task/driver work, after the algorithm is right).

    The memo is keyed to the active SparkContext: a new context (test
    harnesses stop/start them) invalidates every cached JVM handle, so
    the whole dict is dropped when the context object changes.  Bounded
    at ``_EXPR_CACHE_CAP`` entries (reset wholesale — the strings are
    re-derivable; an LRU would be ceremony for a cache this cheap).
    """
    global _EXPR_CACHE_CTX
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not _EXPR_CACHE_CTX:
        _EXPR_CACHE.clear()
        _EXPR_CACHE_CTX = sc
    col = _EXPR_CACHE.get(sql)
    if col is None:
        if len(_EXPR_CACHE) >= _EXPR_CACHE_CAP:
            _EXPR_CACHE.clear()
        col = F.expr(sql)
        _EXPR_CACHE[sql] = col
    return col


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def sanitize_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Normalize non-finite coordinates (NaN/±Inf) to NULL elements.

    NaN coordinates are the ONE malformation class where the expression
    and Arrow signature paths deliberately diverge (Spark's
    NaN-above-everything ordering answers ``NaN > 0`` TRUE in the CASE
    expression, while the Arrow path masks NaN dots to bit 0 because
    Spark's array<double> -> pandas conversion erases the
    NULL-element/NaN distinction — see
    :func:`_multi_table_signatures_arrow`).  Applying this at the
    ingestion seam collapses that class into the NULL-element one, where
    the two paths are bit-identical: the divergence becomes unreachable
    for index-managed corpora (r14 advice).  NULL elements and NULL
    vectors pass through untouched — they already behave identically on
    both paths (all-zero signature, NULL norm, pair dies at the cosine).
    """
    e = F.col(vec_col)
    inf = F.lit(float("inf"))
    return df.withColumn(
        vec_col,
        F.when(
            e.isNull(),
            e,
        ).otherwise(
            F.transform(
                e,
                lambda x: F.when(
                    F.isnan(x) | (F.abs(x) == inf),
                    F.lit(None).cast("double"),
                ).otherwise(x),
            )
        ),
    )


def _per_query_topk(
    scored: DataFrame, k: int, score_col: str, ascending: bool
) -> DataFrame:
    """Two-stage per-query top-k over a (query_id, neighbor_id, score)
    candidate set: local top-k per (query_id, input partition) FIRST,
    then the global rank window.

    A bare ``row_number() OVER (PARTITION BY query_id)`` shuffles EVERY
    candidate of a query into one partition and sorts there — with
    #queries << #cores that single sort is the whole wall-clock at
    scale (measured: ivfpq_topk's x100 probe cell spent 41 s there,
    11x/decade, vs 2.2x for the otherwise-identical ivf path).  The
    local stage keeps at most k rows per (query, spark_partition_id)
    group — tiny sorts, all cores busy — so the global window sees
    <= k * n_input_partitions rows per query instead of the query's
    whole candidate set.  Exact: a row ranked > k within ANY group
    containing it has > k rows ahead of it globally (same total order:
    score then neighbor_id), so pruning it cannot change the top k.

    Output: (query_id, neighbor_id, rank BIGINT, score_col), the shared
    contract of every *_topk in this module.
    """
    from pyspark.sql import Window

    order = [
        F.asc(score_col) if ascending else F.desc(score_col),
        F.asc("neighbor_id"),
    ]
    w_local = Window.partitionBy("query_id", "_pid").orderBy(*order)
    w_global = Window.partitionBy("query_id").orderBy(*order)
    pruned = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= k)
        .drop("_pid", "_lr")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w_global))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            score_col,
        )
    )


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query id (excluding self).

    Output: (query_id, neighbor_id, rank, cosine) — cosine rounded to 4,
    ties broken by neighbor_id for determinism.
    """
    from pyspark.sql import Window

    queries = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_expr(F.col("qvec"), F.col(vec_col)), 4).alias("cosine"),
        )
    )
    return _per_query_topk(scored, int(k), "cosine", ascending=False)


def plane_weights(plane: int, dims: int) -> list[float]:
    """Hyperplane ``plane``'s weights in [-1, 1]^dims, derived from
    md5(plane:dim) — a deterministic pseudo-random hyperplane that any
    engine able to md5 can rebuild (the DuckDB oracles replay it).
    Deriving the weights driver-side keeps plan construction at
    O(tables) py4j calls instead of O(tables*bits*dims) Column
    allocations."""
    return [
        (int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16)
         % 2001 - 1000)
        / 1000.0
        for d in range(dims)
    ]


def signature_sql(vec_col: str, table: int, bits: int, dims: int) -> str:
    """Spark-SQL text for table ``table``'s B-bit signature of `vec_col`.

    One parseable string per table (weights inlined as double literals);
    arithmetic is identical to dot_expr: zip_with multiply + left fold.
    (A straight-line unroll was measured here and REJECTED: bits x dims
    terms in one expression exceed the JVM's huge-method bytecode limit,
    so the generated code never JITs and runs SLOWER than the
    interpreted fold — embedding_neardup 1.5 s -> 6.6 s.  The unroll
    only pays for single-dot expressions; see _fold_dot_sql.)"""
    terms = []
    for p in range(bits):
        w = plane_weights(table * bits + p, dims)
        arr = "array(" + ", ".join(f"{x!r}D" for x in w) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            f"(x, y) -> double(x) * y), 0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p}L ELSE 0L END)")
    return " + ".join(terms)


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    bits: int = 4,
    tables: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    Standard LSH geometry: one B-bit table has per-bit collision probability
    ``1 - theta/pi``, so a single table's recall collapses for moderate
    similarities; L independent tables of fewer bits union their buckets
    (recall ~= 1 - (1 - p^B)^L).  Defaults (B=4, L=16) give ~0.9 recall at
    cosine ~0.5 on 64-dim data while touching only L buckets per query —
    the scan cost per query is bucket-sized, not corpus-sized, which is the
    point at 100 TB.  Exact cosine re-ranks candidates.
    """
    # Vector-free tag rows (r14, same shape as embedding_near_duplicates):
    # the corpus tag set carries (id, norm, table, signature) only, so the
    # Arrow path never round-trips vectors tables times and the candidate
    # dedup shuffles scalars.  Vectors re-attach AFTER the dedup — the
    # query side as a broadcast, the neighbor side via one equi-join whose
    # small (candidate) side AQE broadcasts, so corpus vectors never
    # shuffle at all.  ``dot/(qn*n)`` is cosine_expr's identical IEEE
    # tree (dot_expr over the same vectors, norm_expr folds carried on
    # the tags), so scores are unchanged bit for bit.
    tagged = multi_table_signatures(
        emb, bits, tables, dims, id_col, vec_col,
        include_vec=False, include_norm=True,
    )
    qtags = tagged.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("_n").alias("_qn"),
        "_t",
        "_s",
    )
    cands = (
        tagged.join(F.broadcast(qtags), ["_t", "_s"])
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "_qn",
            "_n",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qvecs = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    nvecs = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    scored = (
        cands.join(F.broadcast(qvecs), "query_id")
        .join(nvecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                # guarded straight-line dot (bit-identical to dot_expr's
                # fold; see the unrolling note above _fold_dot_sql)
                expr_cached(unrolled_dot_sql("_qv", "_nv", dims))
                / (F.col("_qn") * F.col("_n")),
                4,
            ).alias("cosine"),
        )
    )
    return _per_query_topk(scored, int(k), "cosine", ascending=False)


#: switch signature computation from inlined-literal HOF folds to the
#: Arrow/BLAS matmul path at this many total hyperplanes (tables * bits).
#: The fold path evaluates tables * bits interpreted aggregate(zip_with)
#: lambdas per vector — fine at the oracle-pinned 4x8=32 planes, but the
#: r12 planted x1000 cell named it the dominant superlinear term (1224 s,
#: SCALING.md): auto sizing grows bits with log N and tables with the
#: recall target, so production plane counts reach hundreds.  One GEMM
#: per Arrow batch against a (dims x planes) weight matrix does the same
#: flops at memory bandwidth.  48 keeps every oracle-pinned query (32
#: planes) on the expression path the DuckDB oracles replay.
ARROW_SIG_MIN_PLANES = 48


def _multi_table_signatures_expr(
    emb: DataFrame,
    bits: int,
    tables: int,
    dims: int,
    id_col: str,
    vec_col: str,
    include_vec: bool = True,
    include_norm: bool = False,
) -> DataFrame:
    """The inlined-literal expression form of the signature tagging —
    what the DuckDB oracles replay term for term (see signature_sql).

    ``include_vec=False`` drops the vector from the tag rows (the r14
    near-dup path joins on id-and-norm-only tags and re-attaches vectors
    candidate-bounded); ``include_norm=True`` adds ``_n`` =
    :func:`norm_expr`, evaluated ONCE per vector before the explode —
    the same expression tree the r13 per-tag fold evaluated, so the
    values are bit-identical, at 1/tables the fold count."""

    def sig(t: int) -> Column:
        return expr_cached(signature_sql(vec_col, t, bits, dims))

    pre = [F.col(id_col), F.col(vec_col)]
    post = [F.col(id_col)]
    if include_vec:
        post.append(F.col(vec_col))
    if include_norm:
        pre.append(norm_expr(F.col(vec_col)).alias("_n"))
        post.append(F.col("_n"))
    return emb.select(
        *pre,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), sig(t).alias("s"))
                    for t in range(tables)
                ]
            )
        ).alias("_b"),
    ).select(
        *post, F.col("_b.t").alias("_t"), F.col("_b.s").alias("_s")
    )


def _multi_table_signatures_arrow(
    emb: DataFrame,
    bits: int,
    tables: int,
    dims: int,
    id_col: str,
    vec_col: str,
    include_vec: bool = True,
    include_norm: bool = False,
) -> DataFrame:
    """Arrow-batched signature tagging: vectorized dot products against
    the (dims x tables*bits) weight matrix, then a vectorized sign-pack
    into per-table longs — the same planes, in the same order, as
    :func:`signature_sql` (both derive weights from
    :func:`plane_weights`).

    BIT-IDENTICAL to the fold path by construction, not just in
    practice: the accumulation loops over DIMENSIONS in order
    (``acc += V[:, d] * W[d, :]`` — one multiply rounding + one add
    rounding per term, left to right), reproducing the SQL
    ``aggregate(zip_with(...))`` fold's exact IEEE operation sequence
    per (row, plane) while staying vectorized across rows x planes.  A
    plain BLAS GEMM is NOT: its blocked accumulation order flips the
    sign of dots that are exactly 0 in real arithmetic, and
    lattice-valued corpora (the planted probe's +/-1 coordinates with
    rational weights) hit that set constantly — measured ~38k-signature
    divergence on the planted x100 table.  The ordered loop keeps ~5x
    of the fold path's 6x GEMM speedup (memory-bound either way) and
    buys exact bucket parity with the expression path on ANY input.

    MALFORMED rows (vector NULL, wrong length, NULL element, or a
    non-finite coordinate) take a per-row scalar replay of the SQL fold
    instead of the GEMM (r13 advice; the vectorized vstack would crash
    on ragged input): NULL-poisoned folds give the expression path's
    all-zero signature and NULL norm exactly.  One documented,
    deliberate divergence: a dot that folds to NaN takes bit 0 here
    (all-zero garbage bucket) where the expression path's Spark
    NaN-above-everything ordering answers ``NaN > 0`` TRUE (all-ones) —
    pandas erases the NULL-element/NaN distinction on arrival, so only
    one of the two can be replayed, and masking to zero is the contract
    (signatures only steer bucketing; such pairs die at the NULL-norm
    cosine)."""
    import math

    import numpy as np

    W = np.asarray(
        [plane_weights(p, dims) for p in range(tables * bits)],
        dtype=np.float64,
    ).T  # dims x planes, plane p = table p//bits, bit p%bits
    pow2 = 1 << np.arange(bits, dtype=np.int64)
    src = emb.select(id_col, vec_col)
    id_t, vec_t = (f.dataType.simpleString() for f in src.schema.fields)
    out_cols = [f"`{id_col}` {id_t}"]
    if include_vec:
        out_cols.append(f"`{vec_col}` {vec_t}")
    if include_norm:
        out_cols.append("_n double")
    schema = ", ".join(out_cols + ["_t int", "_s long"])

    def _sql_dot(v, w) -> float | None:
        # scalar replay of aggregate(zip_with(v, w, (x,y) -> x*y), 0D, +):
        # zip_with pads the shorter side with NULL and NULL poisons the
        # fold; otherwise a left-to-right float fold (IEEE order matches
        # the SQL fold term for term)
        if v is None or len(v) != len(w):
            return None
        acc = 0.0
        for x, y in zip(v, w):
            if x is None:
                return None
            acc += float(x) * y
        return acc

    def _sql_sigs_row(v) -> list[int]:
        sigs = []
        for t in range(tables):
            s = 0
            for p in range(bits):
                dot = _sql_dot(v, W[:, t * bits + p].tolist())
                # NULL or NaN dot -> bit 0.  For NULL the expression
                # path agrees (CASE ELSE).  For NaN it does NOT (Spark
                # sorts NaN above all doubles, so its `NaN > 0` is
                # TRUE -> all-ones signature) — but Spark's
                # array<double> -> pandas conversion erases the
                # NULL-element/NaN distinction (both arrive as NaN), so
                # the Arrow path CANNOT replay both.  It folds every
                # NaN dot to bit 0: exact parity for NULL elements (by
                # far the common malformation), and the all-zero
                # garbage bucket for true-NaN coordinates — the
                # advisor-specified masking contract; signatures only
                # steer candidate bucketing and such pairs die at the
                # NULL-norm cosine anyway.
                if dot is not None and not math.isnan(dot) and dot > 0:
                    s += 1 << p
            sigs.append(s)
        return sigs

    def _sql_norm_row(v) -> float:
        # norm_expr zips the vector with ITSELF, so a wrong-length
        # vector still folds a real norm over its own elements; only a
        # NULL vector / NULL element folds to NULL (NaN here — the
        # pandas->Arrow conversion surfaces both as NULL)
        if v is None:
            return math.nan
        acc = 0.0
        for x in v:
            if x is None:
                return math.nan
            acc += float(x) * float(x)
        return math.sqrt(acc)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            vecs = list(pdf[vec_col])
            good = np.fromiter(
                (
                    v is not None
                    and len(v) == dims
                    and not any(x is None for x in v)
                    and np.isfinite(
                        np.asarray(v, dtype=np.float64)
                    ).all()
                    for v in vecs
                ),
                dtype=bool,
                count=n,
            )
            sigs = np.zeros((n, tables), dtype=np.int64)
            norms = np.full(n, np.nan, dtype=np.float64)
            if good.any():
                V = np.vstack(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v, g in zip(vecs, good)
                        if g
                    ]
                )
                acc = np.zeros((len(V), W.shape[1]), dtype=np.float64)
                if include_norm:
                    nacc = np.zeros(len(V), dtype=np.float64)
                for d in range(dims):
                    # fold-ordered: multiply rounds once, add rounds
                    # once, dimensions accumulate left to right — the
                    # zip_with + aggregate sequence exactly (numpy runs
                    # multiply and add as separate ufuncs, so no FMA
                    # contraction)
                    acc += V[:, d, None] * W[None, d, :]
                    if include_norm:
                        nacc += V[:, d] * V[:, d]
                signs = acc > 0  # n_good x planes
                sigs[good] = (
                    signs.reshape(len(V), tables, bits)
                    * pow2[None, None, :]
                ).sum(axis=2, dtype=np.int64)
                if include_norm:
                    norms[good] = np.sqrt(nacc)
            for i in np.flatnonzero(~good):
                sigs[i] = _sql_sigs_row(vecs[i])
                if include_norm:
                    norms[i] = _sql_norm_row(vecs[i])
            out = {id_col: np.repeat(pdf[id_col].to_numpy(), tables)}
            if include_vec:
                out[vec_col] = [v for v in vecs for _ in range(tables)]
            if include_norm:
                # malformed rows keep the NaN sentinel, which the
                # pandas->Arrow conversion surfaces as NULL: on such
                # rows the expression path's _n is NULL too (NULL fold)
                # EXCEPT a NaN-coordinate vector, where it is NaN — a
                # NaN _n makes the downstream cosine NaN, which Spark's
                # NaN-is-largest ordering would pass through a
                # `>= threshold` filter; NULL drops the garbage pair
                # instead.  Signatures stay bit-identical either way;
                # this is the one documented divergence, and it is in
                # the drop-garbage direction.
                out["_n"] = np.repeat(norms, tables)
            out["_t"] = np.tile(np.arange(tables, dtype=np.int32), n)
            out["_s"] = sigs.reshape(-1)
            yield pd.DataFrame(out)

    return src.mapInPandas(fn, schema)


def multi_table_signatures(
    emb: DataFrame,
    bits: int,
    tables: int,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vec: bool = True,
    include_norm: bool = False,
) -> DataFrame:
    """Explode each vector into (table, signature) bucket tags.

    Table ``t`` uses hyperplanes ``t*bits .. t*bits+bits-1``, so every
    table's signature is independent.  Below ARROW_SIG_MIN_PLANES total
    planes this is a pure inlined-literal projection over the scan (the
    form the DuckDB oracles replay); at or above it the identical planes
    run as one Arrow-batched GEMM + sign-pack per batch — the fold path's
    per-row interpreted lambda cost was the dominant term of the planted
    x1000 embedding_clusters cell (pytest pins the two paths
    bit-identical on the test corpora).

    ``include_vec=False`` emits id-only tag rows (~40 bytes instead of a
    dims-sized vector per tag): the near-dup self-join's shuffle payload
    drops from tables-times-corpus vectors to tables-times-corpus
    scalars, and the Arrow path stops round-tripping every vector
    ``tables`` times through Arrow.  ``include_norm=True`` adds ``_n``
    (:func:`norm_expr`), one fold per VECTOR instead of the r13 shape's
    one per tag row.
    """
    if tables * bits >= ARROW_SIG_MIN_PLANES:
        return _multi_table_signatures_arrow(
            emb, bits, tables, dims, id_col, vec_col,
            include_vec, include_norm,
        )
    return _multi_table_signatures_expr(
        emb, bits, tables, dims, id_col, vec_col,
        include_vec, include_norm,
    )


#: SemDeDup / IVF auto-sizing target: vectors per cell when ``nlist`` is
#: left unset.  250 reproduces the scaled-probe discipline exactly
#: (SCALING.md: the x-factor probes ran nlist = 8 x factor over
#: 2000 x factor vectors — cells held at 250 while N grew 1000x), which
#: is the paper's own rule (nlist = N / target_cell_size; Abbas et al.
#: 2023 sized LAION runs the same way) applied with a cell small enough
#: that the within-cell pair verify stays ~250^2 comparisons.
DEFAULT_TARGET_CELL_SIZE = 250


def resolve_nlist(
    emb: DataFrame,
    nlist: int | None,
    target_cell_size: int = DEFAULT_TARGET_CELL_SIZE,
) -> int:
    """Resolve ``nlist=None`` to ``max(8, N // target_cell_size)`` — the
    SemDeDup sizing rule in code rather than in docs.  A fixed small
    nlist over a growing corpus makes every within-cell pair stage
    quadratic in N (the failure mode the scaled probes had to override
    by hand with ``nlist = 8 x factor``); auto-sizing keeps cells at
    ``target_cell_size`` so pair work grows linearly.  Costs one
    ``count()`` job — an index-BUILD-time step, like the quantizer
    collect itself, never query-time.  Explicit ``nlist`` passes
    through untouched (the oracle-pinned queries stay exactly
    reproducible).  The input is scratch-persisted BEFORE the count so
    the sizing scan is shared with the caller's own downstream scans
    (Spark's CacheManager serves any semantically-equal plan) — without
    it, every auto-sized caller evaluated a possibly-expensive lineage
    twice."""
    if nlist is not None:
        return int(nlist)
    from .dedup import scratch_persist

    emb = scratch_persist(emb)
    n = emb.count()
    resolved = max(8, n // int(target_cell_size))
    log.info(
        "resolve_nlist: auto-sized nlist=%d from N=%d "
        "(target_cell_size=%d)", resolved, n, target_cell_size,
    )
    return resolved


def centroid_rows(
    emb: DataFrame, nlist: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """The coarse quantizer: ``nlist`` deterministic sample centroids.

    IVF always materializes its (tiny) quantizer outside the corpus scan —
    this is an index-build step, not a query-time collect; ``nlist`` rows is
    bounded regardless of corpus size.  Sampling by lowest id keeps the
    DuckDB oracle able to re-derive the identical quantizer relationally;
    production swaps in :func:`kmeans_parallel_centroids` via
    ``ivf_topk(..., centroids=...)`` — every downstream stage (assignment,
    probing, re-rank) is unchanged by the init strategy.
    """
    rows = (
        emb.where(F.col(id_col) < nlist)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    return [(r[0], list(r[1])) for r in rows]


def _min_d2_sql(vec_col: str, centers: list[list[float]]) -> str:
    """SQL text: squared L2 distance to the nearest of ``centers``.

    Uses the norm identity d2 = |x|^2 - 2 x.c + |c|^2 so the per-center
    work is one dot fold (|x|^2 is computed once per row into ``_n2`` by
    the caller, |c|^2 is a literal).  Centers are inlined as literals —
    the pass stays a pure projection over the corpus scan, no join.
    """
    terms = []
    for c in centers:
        # float() coercion: numpy >= 2 reprs np.float64 as 'np.float64(x)',
        # which is unparseable SQL — centers often arrive as numpy rows
        c = [float(x) for x in c]
        arr = "array(" + ", ".join(f"{x!r}D" for x in c) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            f"(x, y) -> double(x) * y), 0D, (acc, x) -> acc + x)"
        )
        cn2 = sum(x * x for x in c)
        terms.append(f"(_n2 - 2D * {dot} + {cn2!r}D)")
    inner = terms[0] if len(terms) == 1 else "least(" + ", ".join(terms) + ")"
    return f"greatest(0D, {inner})"


def kmeans_parallel_centroids(
    emb: DataFrame,
    nlist: int,
    rounds: int = 4,
    oversample: int | None = None,
    lloyd_iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
) -> list[tuple[int, list[float]]]:
    """k-means|| coarse quantizer (Bahmani et al., "Scalable k-means++",
    VLDB 2012) — the production replacement for :func:`centroid_rows`'s
    lowest-id sampler, which stays the default only because the DuckDB
    oracle must re-derive the quantizer relationally.

    Distributed shape, per the paper: ``rounds`` oversampling passes, each
    a PURE PROJECTION over the corpus (current candidates inlined as
    literals — no join, no shuffle) computing each point's squared
    distance to the nearest candidate, plus a tiny total-cost aggregate;
    points join the candidate set with probability ``l * d2 / cost``.
    Selection uses a hash-derived uniform, so the build is deterministic
    and replayable (same corpus + seed -> same quantizer; Date.now-free by
    design).  The O(rounds * l) candidates are then weighted by assignment
    counts (one more projection + groupBy) and reduced to ``nlist``
    centers DRIVER-SIDE with weighted k-means++ — the paper's final step;
    the candidate set is bounded regardless of corpus size.  Optional
    ``lloyd_iters`` distributed refinement passes follow: assign (map-only
    projection) then per-cell mean (one groupBy over dims aggregates).

    Returns [(cell_id, centroid_vector)] like :func:`centroid_rows`, so
    every downstream IVF stage is unchanged.
    """
    import numpy as np

    l = oversample or 2 * nlist
    # SPHERICAL k-means: train on unit-normalized vectors so the L2 argmin
    # used here coincides with the cosine argmax ivf_topk assigns cells by
    # (for unit x and c, d2 = 2 - 2*cos); centroids are renormalized after
    # every averaging step.  Training on raw vectors was measured at 0.65
    # recall vs 0.9+ exactly because of that metric mismatch.
    pts = emb.select(
        F.col(id_col).alias("_id"),
        expr_cached(
            f"transform(`{vec_col}`, x -> double(x) / greatest(1e-30D, "
            + vnorm_sql(vec_col)
            + "))"
        ).alias("_v"),
        F.lit(1.0).alias("_n2"),
    )
    # deterministic seed point: row with the smallest (hash, id)
    first = pts.orderBy(
        F.xxhash64(F.col("_id"), F.lit(seed)), F.col("_id")
    ).limit(1).collect()[0]
    centers: list[list[float]] = [[float(x) for x in first["_v"]]]

    # uniform in [0,1) from a 64-bit hash, varying per (row, round, seed)
    def u(r: int):
        return (
            F.pmod(F.xxhash64(F.col("_id"), F.lit(seed), F.lit(r)), F.lit(1 << 40))
            / F.lit(float(1 << 40))
        )

    for r in range(rounds):
        d2 = pts.withColumn("_d2", expr_cached(_min_d2_sql("_v", centers)))
        cost = d2.agg(F.sum("_d2")).collect()[0][0] or 0.0
        if cost <= 0:
            break
        new = d2.where(u(r) < F.lit(float(l)) * F.col("_d2") / F.lit(cost)).select(
            "_v"
        ).collect()
        centers.extend([float(x) for x in row["_v"]] for row in new)

    # weight candidates by how many points each one is nearest to
    idx_sql = _argmin_cells_sql("_v", centers)
    wrows = (
        pts.select(expr_cached(idx_sql).alias("_c"))
        .groupBy("_c")
        .agg(F.count(F.lit(1)).alias("_w"))
        .collect()
    )
    weights = np.zeros(len(centers))
    for row in wrows:
        weights[row["_c"]] = row["_w"]
    cand = np.array(centers)

    # driver-side reduction: several restarts of weighted k-means++ each
    # followed by Lloyd on the WEIGHTED CANDIDATES (all local — the
    # candidate set is O(rounds * l) regardless of corpus size), keep the
    # lowest-cost solution.  Restarts cost nothing distributed and close
    # most of the gap between a single k-means++ draw and the best local
    # optimum (single-draw recall varied 0.65-0.9 on the synthetic
    # corpus; best-of-8 tracks the ceiling).
    rng = np.random.default_rng(seed)
    best_cents, best_cost = None, np.inf
    for _ in range(8):
        chosen = [int(rng.choice(len(cand), p=weights / weights.sum()))]
        for _ in range(1, min(nlist, len(cand))):
            d = np.min(
                ((cand[None, chosen, :] - cand[:, None, :]) ** 2).sum(-1),
                axis=1,
            )
            p = weights * d
            tot = p.sum()
            if tot <= 0:
                break
            chosen.append(int(rng.choice(len(cand), p=p / tot)))
        c = cand[chosen].copy()
        for _ in range(20):  # local weighted Lloyd over candidates
            a = np.argmin(
                ((cand[:, None, :] - c[None, :, :]) ** 2).sum(-1), axis=1
            )
            moved = c.copy()
            for j in range(len(c)):
                w = weights[a == j]
                if w.sum() > 0:
                    m = (cand[a == j] * w[:, None]).sum(0) / w.sum()
                    nrm = np.linalg.norm(m)
                    if nrm > 0:
                        moved[j] = m / nrm
            if np.allclose(moved, c, atol=1e-9):
                break
            c = moved
        a = np.argmin(((cand[:, None, :] - c[None, :, :]) ** 2).sum(-1), axis=1)
        cost = float(
            (weights * ((cand - c[a]) ** 2).sum(-1)).sum()
        )
        if cost < best_cost:
            best_cents, best_cost = c, cost
    cents = best_cents

    for _ in range(lloyd_iters):
        idx_sql = _argmin_cells_sql("_v", [list(c) for c in cents])
        dims = len(cents[0])
        means = (
            pts.select(expr_cached(idx_sql).alias("_c"), "_v")
            .groupBy("_c")
            .agg(
                *[F.avg(F.col("_v")[i]).alias(f"m{i}") for i in range(dims)],
            )
            .collect()
        )
        moved = cents.copy()
        for row in means:
            m = np.array([row[f"m{i}"] for i in range(dims)])
            nrm = np.linalg.norm(m)
            if nrm > 0:
                moved[row["_c"]] = m / nrm  # spherical: unit centroids
        if np.allclose(moved, cents, atol=1e-7):
            break
        cents = moved

    return [(i, [float(x) for x in c]) for i, c in enumerate(cents)]


def _argmin_cells_sql(vec_col: str, centers: list[list[float]]) -> str:
    """SQL text: 0-based index of the nearest center (ties -> lowest id)."""
    terms = []
    for c in centers:
        c = [float(x) for x in c]  # numpy-2 repr guard, as in _min_d2_sql
        arr = "array(" + ", ".join(f"{x!r}D" for x in c) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            f"(x, y) -> double(x) * y), 0D, (acc, x) -> acc + x)"
        )
        cn2 = sum(x * x for x in c)
        terms.append(f"({cn2!r}D - 2D * {dot})")
    ds = "array(" + ", ".join(terms) + ")"
    return f"CAST(array_position({ds}, array_min({ds})) - 1 AS INT)"


# --- straight-line (codegen-able) fold unrolling -------------------------
#
# Higher-order-function folds (aggregate/zip_with) run INTERPRETED — they
# are CodegenFallback expressions, so every per-element lambda step pays
# virtual dispatch.  For the hot per-pair / per-centroid dot products that
# is the dominant compute of the whole ANN/SemDeDup family (measured:
# semantic_dedup's pair verify 2.2 s -> 1.4 s at sf0.1 from this change
# alone; the x1000 planted cell's verify is the same expression).  A
# straight-line sum ``0D + (a[0]*b[0]) + (a[1]*b[1]) + ...`` is
# BIT-IDENTICAL to the fold — same leading 0D (the fold's init, which
# also pins the -0.0 edge), same left-to-right addition order, same
# per-element double casts — whenever both arrays have exactly ``dims``
# elements, and whole-stage codegen compiles it to straight-line JVM
# arithmetic.  Every unrolled form is therefore guarded by a size check
# whose ELSE branch is the ORIGINAL fold: well-formed rows take the fast
# branch, ragged/malformed rows evaluate the exact old expression (and
# ANSI out-of-bounds indexing is unreachable).  Guide §1.2 step 2:
# per-task work, after the distributed shape is right.


def _cents_dims(
    cents: list[tuple[int, list[float]]] | None,
) -> int | None:
    """Quantizer vector width, or None for an empty quantizer (callers
    then fall back to the dims-less fold forms — the pre-unroll shape)."""
    return len(cents[0][1]) if cents else None


def _fold_dot_sql(a_sql: str, b_sql: str) -> str:
    """The interpreted reference fold (kept as every guard's ELSE)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> double(x) * double(y)), 0D, (acc, x) -> acc + x)"
    )


def unrolled_dot_sql(
    a_sql: str, b_sql: str, dims: int | None
) -> str:
    """Guarded straight-line dot of two column refs (SQL text); plain
    fold when ``dims`` is unknown."""
    if dims is None:
        return _fold_dot_sql(a_sql, b_sql)
    n = int(dims)
    terms = " + ".join(
        f"(double({a_sql}[{i}]) * double({b_sql}[{i}]))" for i in range(n)
    )
    return (
        f"CASE WHEN size({a_sql}) = {n} AND size({b_sql}) = {n} "
        f"THEN 0D + {terms} ELSE {_fold_dot_sql(a_sql, b_sql)} END"
    )


def vnorm_sql(vec_col: str, dims: int | None = None) -> str:
    """L2 norm of the row vector as a left-to-right fold (one per row).

    With ``dims`` given, the self-dot takes the guarded straight-line
    form (bit-identical; see the unrolling note above)."""
    ref = f"`{vec_col}`"
    if dims is None:
        return f"sqrt({_fold_dot_sql(ref, ref)})"
    return f"sqrt({unrolled_dot_sql(ref, ref, dims)})"


def _canon_cents(
    cents: list[tuple[int, list[float]]],
) -> list[tuple[int, list[float]]]:
    """Centroids sorted by cell id — the canonical order every assignment
    path scores in, so first-index argmax ties always break toward the
    LOWEST cell id regardless of the order the caller built the list in."""
    return sorted(
        ((int(c), [float(x) for x in v]) for c, v in cents),
        key=lambda cv: cv[0],
    )


def _cell_ids_array_sql(cents: list[tuple[int, list[float]]]) -> str:
    """SQL literal: the ACTUAL cell ids in canonical (id-sorted) order,
    for translating a positional argmax/argmin index into the cell label.

    Every assignment path emits the actual centroid id as ``cell`` (r10
    advice: the fold/arrow paths emitted positional indices while the
    two-level path and the driver-side IVFADC probe builder used real
    ids — they coincided only while injected quantizers kept contiguous
    ids starting at 0).  Positional indices remain internal-only (e.g.
    the residual-subtraction ``element_at``)."""
    return (
        "array("
        + ", ".join(str(int(c)) for c, _ in _canon_cents(cents))
        + ")"
    )


def ivf_cell_scores_sql(
    vec_col: str, cents: list[tuple[int, list[float]]], vnorm_col: str = "_vn"
) -> str:
    """Spark-SQL text: array of round(cosine(vec, centroid_j), 4) per cell,
    in canonical (id-sorted) cell order whatever order ``cents`` arrives in.

    Centroid vectors are inlined as double literals, so cell assignment is a
    PURE PROJECTION over the scan — no join, no shuffle; at cluster scale
    the assigned cell becomes a partition column and probes prune
    directories.  The per-cell dot is the same left-to-right
    ``aggregate(zip_with(...))`` fold the oracle-matched cosine queries use;
    the row norm is read from ``vnorm_col`` (computed once per row, not per
    cell) and each centroid norm is inlined as a literal computed with the
    identical left-to-right float64 fold (bit-for-bit what the in-plan fold
    would produce), so the oracle's sqrt(list_dot_product(cv, cv)) still
    matches.
    """
    scores = []
    for _, vec in _canon_cents(cents):
        arr = "array(" + ", ".join(f"{x!r}D" for x in vec) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            f"(x, y) -> double(x) * y), 0D, (acc, x) -> acc + x)"
        )
        acc = 0.0
        for x in vec:
            acc += x * x
        cnorm = acc ** 0.5
        scores.append(f"round({dot} / (`{vnorm_col}` * {cnorm!r}D), 4)")
    # NOTE: a straight-line unroll of these nlist x dims folds was
    # measured and REJECTED — one expression that large exceeds the
    # JVM's huge-method bytecode limit, never JITs, and runs slower
    # than the interpreted fold (see the note in _fold_dot_sql)
    return "array(" + ", ".join(scores) + ")"


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-Flat: coarse-quantize the corpus into
    ``nlist`` cells, probe each query's ``nprobe`` nearest cells, exact
    cosine re-rank inside the probed cells only.

    ``centroids`` injects a pre-built quantizer ([(cell_id, vector)], e.g.
    from :func:`kmeans_parallel_centroids`); default is the deterministic
    lowest-id sampler that the DuckDB oracle can re-derive.

    Scale shape: assignment is map-only (inlined quantizer, zero shuffle on
    the corpus scan), the candidate join is an equi-join on ``cell`` against
    a broadcast (query x nprobe) probe list, and the only corpus-side
    shuffle is the final per-query top-k window — scan cost per query is
    ``nprobe/nlist`` of the corpus instead of all of it.  Complementary to
    :func:`lsh_topk`: IVF partitions space (good when vectors cluster), LSH
    overlaps random projections (good when they don't).

    Output: (query_id, neighbor_id, rank, cosine) like the exact baseline.
    """
    from pyspark.sql import Window

    cents = centroids if centroids is not None else centroid_rows(
        emb, nlist, id_col, vec_col
    )
    pre = emb.select(
        id_col, vec_col,
        expr_cached(vnorm_sql(vec_col, _cents_dims(cents))).alias("_vn"),
    )
    # materialize the (nlist-wide) score array in its own projection: the
    # fold expressions are non-cheap, so CollapseProject keeps this layer
    # instead of re-inlining one copy of the giant tree per consumer —
    # plan analysis/codegen cost stays O(1) copies, and arithmetic is
    # unchanged (same folds, same order)
    withcs = pre.select(
        id_col,
        vec_col,
        expr_cached(ivf_cell_scores_sql(vec_col, cents)).alias("_cs"),
    )
    # first index holding the max = lowest cell id on ties (canonical
    # id-sorted score order); emit the ACTUAL cell id, not the position
    ids_arr = expr_cached(_cell_ids_array_sql(cents))
    assigned = withcs.select(
        id_col,
        vec_col,
        F.element_at(
            ids_arr,
            F.array_position(F.col("_cs"), F.array_max("_cs")).cast("int"),
        )
        .cast("int")
        .alias("cell"),
        "_cs",
    )
    probe_rank = Window.partitionBy("query_id").orderBy(
        F.desc("c"), F.asc("cell")
    )
    qcells = (
        assigned.where(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.posexplode("_cs").alias("_pos", "c"),
        )
        .withColumn(
            "cell",
            F.element_at(ids_arr, (F.col("_pos") + 1).cast("int")).cast(
                "int"
            ),
        )
        .withColumn("_pr", F.row_number().over(probe_rank))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    scored = (
        assigned.drop("_cs")
        .join(F.broadcast(qcells), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_expr(F.col("qvec"), F.col(vec_col)), 4).alias(
                "cosine"
            ),
        )
    )
    return _per_query_topk(scored, int(k), "cosine", ascending=False)


#: SimHash-LSH auto-sizing target: expected vectors per bucket per table
#: (N / 2^bits) when ``bits`` is left unset.  The r12 planted-cluster
#: probe measured why bits must grow with the corpus: at FIXED bits the
#: candidate volume carries an intrinsic ~tables * N^2 / 2^bits term on
#: ANY data (two unrelated vectors collide per table with probability
#: ~2^-bits), measured 3.4x slower at a 10x corpus and disk-dead at 100x
#: (>78 GB of verify-stage spill from ~312M candidates); bits = log N
#: held the curve near-linear (SCALING.md).  Occupancy 16 reproduces the
#: oracle-pinned bits=8 exactly up to ~4k vectors.
DEFAULT_LSH_BUCKET_OCCUPANCY = 16


def resolve_bits(
    emb: DataFrame,
    bits: int | None,
    target_occupancy: int = DEFAULT_LSH_BUCKET_OCCUPANCY,
) -> int:
    """Resolve ``bits=None`` to ``max(8, ceil(log2(N / target_occupancy)))``
    — the banding analogue of :func:`resolve_nlist`: signature width
    grows with log N so bucket occupancy (and with it the per-table
    candidate volume ~N * occupancy / 2) stays constant.  Costs one
    ``count()`` at index-build time.  Explicit ``bits`` passes through,
    so the oracle-pinned queries stay exactly reproducible.  NB recall
    at fixed ``tables`` declines as bits grow (per-table collision for a
    true pair is (1 - theta/pi)^bits); :func:`resolve_tables` encodes
    that trade as the matching ``tables=None`` default on the near-dup
    family, so full-auto callers keep a recall floor instead of quietly
    losing duplicates as bits grow.  The input is scratch-persisted
    BEFORE the count so the sizing scan is shared with the caller's own
    downstream scans (see :func:`resolve_nlist`)."""
    if bits is not None:
        return int(bits)
    import math

    from .dedup import scratch_persist

    emb = scratch_persist(emb)
    n = emb.count()
    resolved = max(
        8, math.ceil(math.log2(max(1.0, n / float(target_occupancy))))
    )
    log.info(
        "resolve_bits: auto-sized bits=%d from N=%d (target_occupancy=%d); "
        "per-table true-pair collision falls as (1-theta/pi)^bits — pair "
        "with resolve_tables (or raise tables) to hold union recall",
        resolved, n, target_occupancy,
    )
    return resolved


def lsh_union_recall(bits: int, tables: int, threshold: float) -> float:
    """Closed-form candidate-generation recall of multi-table sign-LSH
    for a true pair at cosine exactly ``threshold``: per-bit collision
    ``p = 1 - theta/pi`` (the Goemans-Williamson hyperplane identity),
    per-table ``p^bits``, union over L independent tables
    ``1 - (1 - p^bits)^L``.  Pairs ABOVE the threshold collide with
    higher probability, so this lower-bounds recall over the whole
    accepted set."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, float(threshold)))) / math.pi
    return 1.0 - (1.0 - p ** int(bits)) ** int(tables)


#: resolve_tables refuses to multiply signature/join cost past this many
#: tables: needing more means the requested (bits, threshold, recall)
#: combination is uneconomical and bits should come down (or the recall
#: target should).  64 tables x the auto bits floor of 8 = 512 planes,
#: already ~7x the registered queries' 4x8.
MAX_AUTO_TABLES = 64


def resolve_tables(
    bits: int,
    threshold: float = 0.95,
    target_recall: float = 0.9,
    tables: int | None = None,
) -> int:
    """Resolve ``tables=None`` to the smallest L whose closed-form union
    recall (:func:`lsh_union_recall`) meets ``target_recall`` at the
    verify threshold — the missing half of the LSH auto-sizing story:
    :func:`resolve_bits` holds bucket occupancy (cost) constant as N
    grows, and this holds recall constant as bits grow, so a full-auto
    caller gets BOTH contracts instead of silently trading one for the
    other (measured on the planted instrument: fixed tables=4 under auto
    bits lost ~0.9% of true components at x1000).  Explicit ``tables``
    passes through, so the oracle-pinned queries stay exactly
    reproducible.  Driver-side arithmetic only — no data scan."""
    if tables is not None:
        return int(tables)
    import math

    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    p = 1.0 - math.acos(max(-1.0, min(1.0, float(threshold)))) / math.pi
    per_table = p ** int(bits)
    if per_table >= 1.0:
        return 1
    want = math.log(1.0 - float(target_recall))
    have = math.log(1.0 - per_table)
    resolved = max(1, math.ceil(want / have))
    if resolved > MAX_AUTO_TABLES:
        log.warning(
            "resolve_tables: recall %.3f at threshold %.3f with bits=%d "
            "needs %d tables; capping at %d (union recall %.3f) — lower "
            "bits or the recall target",
            target_recall, threshold, bits, resolved, MAX_AUTO_TABLES,
            lsh_union_recall(bits, MAX_AUTO_TABLES, threshold),
        )
        resolved = MAX_AUTO_TABLES
    else:
        log.info(
            "resolve_tables: auto-sized tables=%d for recall>=%.3f at "
            "threshold %.3f with bits=%d (implied union recall %.3f)",
            resolved, target_recall, threshold, bits,
            lsh_union_recall(bits, resolved, threshold),
        )
    return resolved


def embedding_near_duplicates(
    emb: DataFrame,
    threshold: float = 0.95,
    bits: int | None = None,
    tables: int | None = None,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_recall: float = 0.9,
) -> DataFrame:
    """Near-duplicate vector pairs: LSH-bucketed candidates, exact cosine
    verify >= threshold.  Output (v1, v2, cosine rounded 4).

    Multi-table: a pair is a candidate if it collides in ANY of the L
    independent B-bit tables (recall ~= 1 - (1 - p^B)^L with p the per-bit
    collision probability 1 - theta/pi; ~1.0 for true near-dups at the
    defaults).  The join is an equi-join on (table, signature) — candidates
    are generated bucket-locally, never all-pairs, so the shuffle is keyed
    and bounded by bucket sizes at any corpus scale.

    ``bits=None`` (the default) auto-sizes via :func:`resolve_bits` —
    signature width grows with log N so the candidate volume stays
    linear; a fixed width carries an intrinsic quadratic collision term
    the planted-cluster probe measured disk-dead at a 100x corpus
    (SCALING.md).  ``tables=None`` (the default) then auto-sizes via
    :func:`resolve_tables` so union recall holds ``target_recall`` at
    the verify threshold as bits grow — full-auto callers get constant
    cost AND a recall floor; pass both explicitly for exactly
    reproducible behavior (the oracle-pinned queries do).
    """
    bits = resolve_bits(emb, bits)
    tables = resolve_tables(bits, threshold, target_recall, tables)
    # Vectors NEVER enter the band self-join (r14, the x1000 tail's
    # dominant remaining term per SCALING.md): tag rows carry only
    # (id, norm, table, signature) — ~40 bytes instead of a dims-sized
    # vector — so the self-join shuffle moves tables-x-corpus SCALARS,
    # not tables-x-corpus 4 KB vectors.  Norms ride the tag rows (one
    # :func:`norm_expr` fold per VECTOR, computed before the explode)
    # because the verify needs them per candidate and they are 8 bytes.
    tagged = multi_table_signatures(
        emb, bits, tables, dims, id_col, vec_col,
        include_vec=False, include_norm=True,
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    # Candidate pairs dedup BEFORE the verify: with scalar-only tag rows
    # the multi-table duplicate collapse is a ~32-byte-row shuffle, and
    # doing it first means ONE cosine evaluation per distinct pair
    # instead of per occurrence (the r13 shape paid per-occurrence
    # cosines as the price of keeping vectors out of the dedup shuffle;
    # with no vectors anywhere in the band join both orders are cheap
    # and dedup-first strictly dominates).
    cands = (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._s") == F.col("b._s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("v1"),
            F.col(f"b.{id_col}").alias("v2"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .dropDuplicates(["v1", "v2"])
    )
    # Re-attach vectors to the SURVIVING candidate id set only: two
    # equi-joins against the corpus move each corpus vector at most once
    # per side — candidate-bounded, independent of the table count — and
    # the two exchanges of `emb` hash-partitioned on id are identical
    # subplans Catalyst's ReuseExchange collapses to one.  The verify
    # ``round(dot/(na*nb), 4)`` is the identical IEEE expression tree the
    # r13 in-join projection evaluated, on the same doubles, so scores
    # (and oracle hashes) are unchanged bit for bit.
    e1 = emb.select(
        F.col(id_col).alias("v1"), F.col(vec_col).alias("_va")
    )
    e2 = emb.select(
        F.col(id_col).alias("v2"), F.col(vec_col).alias("_vb")
    )
    return (
        cands.join(e1, "v1")
        .join(e2, "v2")
        .select(
            "v1",
            "v2",
            F.round(
                # guarded straight-line dot (bit-identical to dot_expr's
                # fold; see the unrolling note above _fold_dot_sql) —
                # this is the once-per-distinct-pair verify, the planted
                # x1000 cell's per-candidate compute
                expr_cached(unrolled_dot_sql("_va", "_vb", dims))
                / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def brute_force_near_duplicates(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine >= threshold, exact.  Test-only recall baseline for
    :func:`embedding_near_duplicates` — the driver-registered query uses the
    LSH path; this one collects the corpus to the driver and dies around
    ~10^7 vectors.

    Dense pairwise cosine is the one workload where Arrow-batched numpy
    (BLAS matmul inside mapInPandas) beats JVM expression evaluation by an
    order of magnitude: per-pair array folds evaluate the lambda per
    element, ~100x slower than a blocked GEMM.  The corpus matrix is
    broadcast (a 1M x 1k-dim float corpus is ~4 GB — broadcastable; beyond
    that use :func:`embedding_near_duplicates`, the LSH-bucketed scale
    path); each task computes its row block against the broadcast matrix.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rows = emb.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    normed = mat / norms[:, None]
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast((ids, normed))

    out_schema = StructType(
        [
            StructField("v1", LongType(), False),
            StructField("v2", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def block(it):
        import pandas as pd

        all_ids, all_normed = bc.value
        for pdf in it:
            bids = pdf[id_col].to_numpy(dtype=np.int64)
            bmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            bnorm = bmat / np.linalg.norm(bmat, axis=1)[:, None]
            sims = np.round(bnorm @ all_normed.T, 4)
            bi, aj = np.nonzero((sims >= threshold) & (bids[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {"v1": bids[bi], "v2": all_ids[aj], "cosine": sims[bi, aj]}
            )

    return emb.select(id_col, vec_col).mapInPandas(block, out_schema)


# ---------------------------------------------------------------------------
# Persistent IVF index: build once, probe with directory-level pruning
# ---------------------------------------------------------------------------


#: per-batch partition column in the persisted IVF corpus — the idempotence
#: key for ivf_append's dynamic partition overwrite (0 = build-time rows)
APPEND_BATCH_COL = "append_batch"


def _assign_cells(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Map-only cell assignment (inlined quantizer, zero shuffle):
    (id, vec, cell, _best) with _best = cosine to the winning centroid;
    ``cell`` is the ACTUAL centroid id (ties -> lowest id).

    Large quantizers route through the Arrow/BLAS path (the same
    ``ARROW_ASSIGN_MIN_NLIST`` gate as every other assignment site): an
    IVF-Flat index built at production nlist must not pay O(nlist)
    INTERPRETED folds per row; identical labels and round-4 scores up to
    the standing BLAS boundary-tie caveat, and the pytest-pinned
    small-nlist builds keep the fold."""
    if len(cents) >= ARROW_ASSIGN_MIN_NLIST:
        return _assign_cells_arrow(emb, cents, id_col, vec_col).select(
            id_col,
            vec_col,
            "cell",
            F.col("centroid_sim").alias("_best"),
        )
    pre = emb.select(
        id_col, vec_col,
        expr_cached(vnorm_sql(vec_col, _cents_dims(cents))).alias("_vn"),
    )
    withcs = pre.select(
        id_col, vec_col, expr_cached(ivf_cell_scores_sql(vec_col, cents)).alias("_cs")
    )
    return withcs.select(
        id_col,
        vec_col,
        F.element_at(
            expr_cached(_cell_ids_array_sql(cents)),
            F.array_position(F.col("_cs"), F.array_max("_cs")).cast("int"),
        )
        .cast("int")
        .alias("cell"),
        F.array_max("_cs").alias("_best"),
    )


def _write_assign_stats(
    assigned: DataFrame, path: str, kind: str, batch_id: int,
    observed: dict | None = None,
) -> dict:
    """Record one (kind, batch_id, n, mean_best_cosine) row in the index's
    stats table and return it — the anchor for the drift check.

    The table is partitioned by ``batch_id`` and writes are idempotent:
    a BUILD (batch_id 0) statically overwrites the whole table, clearing
    every prior build and stale append row (an appending build left
    multiple 'build' rows and the drift anchor picked one arbitrarily —
    r6 advice finding); an APPEND dynamically overwrites only its own
    batch partition, so a retried batch replaces its stats row instead
    of duplicating it.

    ``observed`` carries metrics already collected by an ``Observation``
    riding the corpus/codes write (keys ``n``, ``mean_best``): the stats
    then cost zero extra passes.  Without it this falls back to one
    aggregation job over ``assigned`` (the pre-r15 shape, which needed
    the caller to persist ``assigned`` to avoid a second corpus scan).
    """
    if observed is not None:
        row = observed
    else:
        row = assigned.agg(
            F.count(F.lit(1)).alias("n"), F.avg("_best").alias("mean_best")
        ).collect()[0]
    stats = {"kind": kind, "n": int(row["n"]),
             "mean_best_cosine": float(row["mean_best"] or 0.0)}
    out = local_frame(
        assigned.sparkSession,
        [(kind, int(batch_id), stats["n"], stats["mean_best_cosine"])],
        "kind string, batch_id long, n long, mean_best_cosine double",
    ).write.partitionBy("batch_id")
    if kind == "build":
        out.mode("overwrite").parquet(f"{path}/stats")
    else:
        out.option("partitionOverwriteMode", "dynamic").mode(
            "overwrite"
        ).parquet(f"{path}/stats")
    return stats


def ivf_build_index(
    emb: DataFrame,
    path: str,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> None:
    """Materialize the IVF-Flat index on disk: the corpus written
    ``partitionBy(cell)`` plus the quantizer as its own tiny table.

    Separating index BUILD from query is what production ANN does — the
    expensive pass (cell assignment over the whole corpus, map-only here)
    runs once, and every query afterwards touches only its probed cells.
    Because ``cell`` is a physical partition column, probe filters prune
    at the DIRECTORY level: a query scans nprobe/nlist of the files, not
    nprobe/nlist of the rows of every file.

    ``centroids`` injects a pre-built quantizer (same contract as
    :func:`ivf_topk`); the build also records the corpus's mean
    best-cell cosine in ``{path}/stats`` — :func:`ivf_append`'s drift
    anchor.
    """
    spark = emb.sparkSession
    # vectors enter managed storage HERE: collapse NaN/Inf coordinates to
    # NULL elements so every later signature computation — expression or
    # Arrow — sees the same malformation class (see sanitize_vectors)
    emb = sanitize_vectors(emb, vec_col)
    # nlist=None -> the N/target_cell_size sizing rule (resolve_nlist):
    # an index built once at a fixed tiny nlist would overfill cells as
    # the corpus grows, the same failure semantic_dedup's default fixes
    cents = centroids if centroids is not None else centroid_rows(
        emb, resolve_nlist(emb, nlist), id_col, vec_col
    )
    # The stats metrics ride the corpus write as an Observation
    # (CollectMetrics): the assignment projection is evaluated exactly
    # once, in the write pass, with no persist — the pre-r15 shape
    # persisted the full assigned corpus just to aggregate two scalars
    # afterwards, which at 100 TB means caching (or, on eviction,
    # recomputing) the entire index body for a 1-row stats table
    # (optimization guide §5: cache only when recomputation beats the
    # memory pressure; here neither is needed).
    from pyspark.sql import Observation

    obs = Observation()
    assigned = _assign_cells(emb, cents, id_col, vec_col).observe(
        obs, F.count(F.lit(1)).alias("n"), F.avg("_best").alias("mean_best")
    )
    # The tiny quantizer write is independent of the corpus write, so it
    # runs CONCURRENTLY on a driver thread (guide §2.6: overlap
    # independent jobs — the quantizer job back-fills while the corpus
    # write's tail drains); both must finish before the caller's
    # fingerprint lands, enforced by the .result() below.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        cents_fut = pool.submit(
            lambda: local_frame(
                spark,
                # ACTUAL centroid ids, matching the corpus's cell labels —
                # the old positional re-labeling (enumerate) made a
                # reloaded quantizer disagree with the corpus whenever
                # injected centroid ids were non-contiguous (r10 advice
                # finding, generalized)
                [
                    (int(c), [float(x) for x in v])
                    for c, v in _canon_cents(cents)
                ],
                "cell_id int, centroid array<double>",
            ).write.mode("overwrite").parquet(f"{path}/centroids")
        )
        # append_batch=0 marks build-time rows; the extra partition level
        # is what lets ivf_append overwrite exactly its own batch on retry
        (
            assigned.drop("_best")
            .withColumn(APPEND_BATCH_COL, F.lit(0))
            .write.partitionBy("cell", APPEND_BATCH_COL)
            .mode("overwrite")
            .parquet(f"{path}/corpus")
        )
        cents_fut.result()
    _write_assign_stats(assigned, path, "build", 0, observed=obs.get)


def _corpus_layout_is_legacy(spark: SparkSession, corpus_root: str) -> bool:
    """True if the IVF corpus at ``corpus_root`` predates the
    ``append_batch`` partition level (partitioned by ``cell`` only).

    Appending cell=N/append_batch=M directories into such a layout mixes
    bare parquet files and partition subdirectories under one cell, and
    Spark's partition discovery then fails with 'conflicting directory
    structures' on every subsequent read — so the mismatch must be caught
    BEFORE the first append write.  Local paths are probed with a cheap
    single-cell directory listing (no full-corpus file listing); remote
    URIs fall back to a partition-discovery schema read.
    """
    from pathlib import Path

    local = corpus_root.removeprefix("file://")
    root = Path(local)
    if "://" not in local and root.exists():
        # A corpus is legacy if ANY cell still holds bare parquet files
        # directly under cell=N — including a migration interrupted
        # midway, where some cells are done and others aren't; probing
        # only one cell would pass exactly the mixed layout this guard
        # exists to reject.  One readdir per cell, no recursive listing.
        return any(
            f.is_file() and f.suffix == ".parquet"
            for cell in root.glob("cell=*")
            for f in cell.iterdir()
        )
    return APPEND_BATCH_COL not in spark.read.parquet(corpus_root).columns


def ivf_migrate_legacy_layout(path: str) -> int:
    """Migrate a legacy cell-only IVF corpus in place: move each cell's
    bare build files into a ``cell=N/append_batch=0`` subdirectory (0 is
    the build batch, exactly where :func:`ivf_build_index` puts them
    today).  Idempotent — already-migrated cells are skipped.  Local
    filesystem paths only (same contract as the compactors); for object
    stores, rebuild with :func:`ivf_build_index` instead.  Returns the
    number of files moved.
    """
    import os
    from pathlib import Path

    root = Path(path.removeprefix("file://")) / "corpus"
    moved = 0
    for cell in root.glob("cell=*"):
        files = [f for f in cell.iterdir() if f.suffix == ".parquet"]
        if not files:
            continue
        dest = cell / f"{APPEND_BATCH_COL}=0"
        dest.mkdir(exist_ok=True)
        for f in files:
            os.rename(f, dest / f.name)
            crc = cell / f".{f.name}.crc"  # local-FS checksum sidecar
            if crc.exists():
                os.rename(crc, dest / crc.name)
            moved += 1
    return moved


def ivf_append(
    new: DataFrame,
    path: str,
    batch_id: int,
    drift_tol: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental IVF maintenance: assign NEW vectors to the EXISTING
    quantizer's cells and append them to the cell partitions — no corpus
    rebuild (the streaming-corpus counterpart of :func:`ivf_build_index`,
    mirroring what streaming/dedup.py does for persistent LSH state).

    Assignment is the same map-only inlined-quantizer projection as the
    build; the write lands in the affected ``cell=.../append_batch=N``
    directories only, so an append touches O(batch) data regardless of
    index size and other batches' files are never rewritten.

    EXACTLY-ONCE: ``batch_id`` (caller-stable, > 0 — 0 is the build) keys
    a dynamic partition overwrite, so a retried batch REPLACES its own
    (cell, batch) partitions with identical deterministic content instead
    of appending the rows a second time — the same idempotence contract
    as storage.write_fact and streaming/dedup.py (the previous plain
    append was at-least-once by documentation; r6 verdict task).

    Drift check: a fixed quantizer slowly rots as the distribution moves —
    new vectors land ever farther from their best centroid, recall decays
    silently.  Each append compares the batch's mean best-cell cosine to
    the BUILD-time anchor in ``{path}/stats``; a drop greater than
    ``drift_tol`` flags ``needs_requantization`` (and every append's stats
    row is recorded, so the trajectory is inspectable).  Re-quantization
    itself is deliberate and expensive: re-run :func:`ivf_build_index`
    (optionally with :func:`kmeans_parallel_centroids`) over the full
    corpus.

    Returns {n_appended, mean_best_cosine, build_mean_best_cosine,
    needs_requantization}.
    """
    if int(batch_id) <= 0:
        raise ValueError("batch_id must be > 0 (0 is the build batch)")
    spark = new.sparkSession
    if _corpus_layout_is_legacy(spark, f"{path}/corpus"):
        raise ValueError(
            f"{path}/corpus uses the legacy cell-only layout (no "
            f"{APPEND_BATCH_COL}= partition level); appending would mix "
            "bare files and partition dirs under one cell and break every "
            "subsequent read with 'conflicting directory structures'. "
            "Run ivf_migrate_legacy_layout(path) (local paths) or rebuild "
            "with ivf_build_index first."
        )
    cents = [
        (int(r["cell_id"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("cell_id")
        .collect()
    ]
    # same ingestion-seam normalization as the build: NaN/Inf coordinates
    # become NULL elements before the vectors land in the corpus
    new = sanitize_vectors(new, vec_col)
    # stats metrics ride the corpus write (Observation) — one pass, no
    # persist; the stats row now lands AFTER the corpus write, which is
    # also the fail-safe order ivfpq_append documents (a crash between
    # the two leaves orphaned corpus partitions a retry replaces, never
    # a stats row for data that never arrived)
    from pyspark.sql import Observation

    obs = Observation()
    assigned = _assign_cells(new, cents, id_col, vec_col).observe(
        obs, F.count(F.lit(1)).alias("n"), F.avg("_best").alias("mean_best")
    )
    (
        assigned.drop("_best")
        .withColumn(APPEND_BATCH_COL, F.lit(int(batch_id)))
        .write.partitionBy("cell", APPEND_BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(f"{path}/corpus")
    )
    stats = _write_assign_stats(
        assigned, path, "append", batch_id, observed=obs.get
    )
    # exactly one build row exists (the build statically overwrites the
    # stats table); orderBy makes the selection deterministic regardless
    build_rows = (
        spark.read.parquet(f"{path}/stats")
        .where(F.col("kind") == "build")
        .orderBy(F.desc("batch_id"))
        .collect()
    )
    build_mean = float(build_rows[0]["mean_best_cosine"]) if build_rows else None
    drift = (
        build_mean is not None
        and stats["n"] > 0
        and build_mean - stats["mean_best_cosine"] > drift_tol
    )
    return {
        "n_appended": stats["n"],
        "mean_best_cosine": stats["mean_best_cosine"],
        "build_mean_best_cosine": build_mean,
        "needs_requantization": bool(drift),
    }


def ivf_maintain(
    corpus: DataFrame,
    path: str,
    drift_tol: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> dict:
    """The IVF-Flat sibling of :func:`ivfpq_maintain`: act on
    :func:`ivf_append`'s ``needs_requantization`` flag by retraining the
    quantizer (k-means|| over the CURRENT corpus) and re-running
    :func:`ivf_build_index` in place.  Drift here is a DROP in mean
    best-cell cosine (vectors landing ever farther from every centroid),
    the inverse of the IVFADC residual-norm growth, so the gate is
    ``build_mean - batch_mean > drift_tol`` (absolute, matching
    ivf_append's own check).  Same idempotence story: the rebuild's
    static stats overwrite clears append rows, so a second run no-ops.

    Returns {rebuilt, drifted_batches, build_mean_best_cosine,
    new_mean_best_cosine}.
    """
    spark = corpus.sparkSession
    stats = spark.read.parquet(f"{path}/stats").collect()
    anchor = max(
        (r for r in stats if r["kind"] == "build"),
        key=lambda r: r["batch_id"],
        default=None,
    )
    if anchor is None:
        raise ValueError(f"{path}/stats has no build anchor row")
    build_mean = float(anchor["mean_best_cosine"])
    drifted = sorted(
        int(r["batch_id"])
        for r in stats
        if r["kind"] == "append"
        and r["n"] > 0
        and build_mean - float(r["mean_best_cosine"]) > drift_tol
    )
    out = {
        "rebuilt": False,
        "drifted_batches": drifted,
        "build_mean_best_cosine": build_mean,
        "new_mean_best_cosine": None,
    }
    if not drifted:
        return out
    nlist = spark.read.parquet(f"{path}/centroids").count()
    cents = centroids if centroids is not None else (
        kmeans_parallel_centroids(
            corpus, int(nlist), id_col=id_col, vec_col=vec_col
        )
    )
    ivf_build_index(
        corpus, path, nlist=int(nlist), id_col=id_col, vec_col=vec_col,
        centroids=cents,
    )
    new_anchor = (
        spark.read.parquet(f"{path}/stats")
        .where(F.col("kind") == "build")
        .collect()[0]
    )
    out["rebuilt"] = True
    out["new_mean_best_cosine"] = float(new_anchor["mean_best_cosine"])
    return out


def embedding_dedup_clusters(
    emb: DataFrame,
    threshold: float = 0.95,
    bits: int | None = None,
    tables: int | None = None,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_recall: float = 0.9,
) -> DataFrame:
    """Resolve embedding near-dup PAIRS into actionable dedup clusters —
    the vector-space counterpart of :func:`~.dedup.dedup_clusters`
    (semantic dedup over embeddings is how web-scale corpora drop
    paraphrase-level duplicates that token-level MinHash can't see).

    Chains :func:`embedding_near_duplicates` (LSH-bucketed candidates,
    exact-cosine verify) -> :func:`~.dedup.connected_components` and
    elects each component's minimum id as survivor (the component label
    IS that minimum, so election is free).  Member counts use the same
    skew-safe count-groupBy + AQE join as the text-side operator.

    Output: (vec_id, cluster_id, n_members, is_survivor) for every
    vector in a near-dup cluster; singletons are absent (they survive by
    definition, and listing them would be corpus-sized output).
    """
    from .dedup import connected_components

    pairs = embedding_near_duplicates(
        emb, threshold, bits, tables, dims, id_col, vec_col,
        target_recall=target_recall,
    ).select(F.col("v1").alias("d1"), F.col("v2").alias("d2"))
    cc = connected_components(pairs)
    sizes = cc.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return cc.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        "n_members",
        (F.col("node") == F.col("label")).alias("is_survivor"),
    )


#: switch cell assignment from inlined-literal HOF folds to Arrow-batched
#: BLAS above this quantizer size.  The folds run INTERPRETED (outside
#: codegen) at O(nlist * dims) lambda evaluations per row — fine at the
#: oracle-pinned nlist<=16, ~minutes per million rows by nlist=800; a
#: blocked GEMM does the same flops at memory bandwidth.
ARROW_ASSIGN_MIN_NLIST = 64

#: switch SemDeDup-family assignment to the two-level coarse-quantizer
#: front when ``assign_two_level=None`` (auto) and the quantizer has at
#: least this many cells.  The scaled probes validated the handoff
#: bracket: flat BLAS is honest O(nlist * dims)/row and measured fine to
#: nlist=800 (x100 cells), while nlist=8000 (x1000) ran the two-level
#: front (SCALING.md) — the same ~1e3-1e4-cell handoff production
#: systems make (faiss fronts an HNSW/IMI quantizer the same way).  The
#: front is APPROXIMATE (pytest pins >=95% agreement on clustered data),
#: so auto engages it only past this size; pass False to force exact
#: assignment at any nlist, True to force the front below it.
TWO_LEVEL_ASSIGN_MIN_NLIST = 1000


def _resolve_two_level(n_cents: int, flag: bool | None) -> bool:
    """Resolve ``assign_two_level=None`` to the probe-validated handoff:
    the approximate coarse->fine front at >= TWO_LEVEL_ASSIGN_MIN_NLIST
    cells, exact assignment below.  Explicit True/False pass through
    (the oracle-pinned queries' small quantizers resolve to False, so
    auto never changes an oracle-pinned answer).

    NB this auto default was NEW in r12 — before it the approximate
    front was strictly opt-in, so a caller passing >=1000 explicit
    centroids with ``assign_two_level`` unset changed from exact to
    ~95%-agreement assignment.  The handoff logs itself (below) so that
    flip is visible in driver logs, and ``assign_two_level=False``
    restores exact assignment at any size."""
    if flag is not None:
        return bool(flag)
    auto = int(n_cents) >= TWO_LEVEL_ASSIGN_MIN_NLIST
    if auto:
        log.info(
            "assign_two_level auto-engaged at nlist=%d (>= %d): "
            "APPROXIMATE coarse->fine assignment front (pytest-pinned "
            ">=95%% agreement); pass assign_two_level=False to force "
            "exact assignment",
            int(n_cents), TWO_LEVEL_ASSIGN_MIN_NLIST,
        )
    return auto


def _assign_cells_arrow(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, _vn, cell, centroid_sim) via Arrow-batched numpy: one
    GEMM per batch against the broadcast centroid matrix — the
    large-``nlist`` assignment path (SemDeDup sizing puts nlist at
    N/target_cell_size; LAION runs used ~1e5 clusters, far past where
    per-row interpreted folds are viable).

    Semantics mirror the fold path (round-4 cosine scores, argmax with
    first-index/lowest-cell ties) but float accumulation ORDER differs
    (BLAS blocking vs left-to-right fold) and numpy rounds half-even vs
    SQL HALF_UP, so round-4 boundary cells can flip at the last ulp —
    which is why the ORACLE-pinned queries (nlist <= 16) stay on the
    fold path and this one serves the production sizing only.
    """
    import numpy as np
    import pandas as pd

    order = sorted(cents, key=lambda cv: cv[0])
    C = np.asarray([v for _, v in order], dtype=np.float64)
    cell_ids = np.asarray([int(c) for c, _ in order], dtype=np.int64)
    cn = np.sqrt((C * C).sum(axis=1))
    schema = (
        f"`{id_col}` long, `{vec_col}` array<double>, _vn double, "
        "cell int, centroid_sim double"
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.sqrt((V * V).sum(axis=1))
            # zero-norm guard: clamp the divisor so a degenerate all-zero
            # vector scores 0.0 to every cell (argmax -> lowest cell,
            # centroid_sim 0.0) instead of NaN rows whose argmax picks an
            # arbitrary cell.  (The fold path divides by 0 in Spark SQL,
            # which yields NULL scores — also non-crashing; neither path
            # treats a zero vector as meaningful.)
            S = np.round(
                (V @ C.T) / (np.maximum(vn, 1e-30)[:, None] * cn[None, :]),
                4,
            )
            pos = S.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: list(pdf[vec_col]),
                    "_vn": vn,
                    # ACTUAL cell id (argmax over id-sorted order keeps
                    # the lowest-id tie-break)
                    "cell": cell_ids[pos].astype("int32"),
                    "centroid_sim": S[np.arange(len(S)), pos],
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(fn, schema)


def two_level_quantizer(
    cents: list[tuple[int, list[float]]],
    branch: int | None = None,
    iters: int = 10,
    seed: int = 1,
) -> tuple[list[list[float]], list[list[int]]]:
    """Group a fine quantizer's ``nlist`` centroids under ``branch``
    super-centroids (default ``ceil(sqrt(nlist))``) — the driver-side
    half of two-level assignment.  K-means over the CENTROIDS (nlist
    rows — always tiny relative to the corpus), seeded and
    deterministic.

    Returns (super_centroids, members): ``members[s]`` lists the fine
    CELL ids under super-cell ``s`` (every fine cell appears exactly
    once; empty super-cells are dropped).
    """
    import math

    import numpy as np

    C = np.asarray(
        [v for _, v in sorted(cents, key=lambda cv: cv[0])],
        dtype=np.float64,
    )
    ids = [c for c, _ in sorted(cents, key=lambda cv: cv[0])]
    k1 = int(branch) if branch else max(int(math.ceil(len(C) ** 0.5)), 1)
    k1 = min(k1, len(C))
    rng = np.random.RandomState(seed)
    sc = C[rng.choice(len(C), size=k1, replace=False)]
    for _ in range(int(iters)):
        d2 = ((C[:, None, :] - sc[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        moved = sc.copy()
        for j in range(k1):
            if (a == j).any():
                moved[j] = C[a == j].mean(axis=0)
        if np.allclose(moved, sc, atol=1e-12):
            break
        sc = moved
    d2 = ((C[:, None, :] - sc[None, :, :]) ** 2).sum(axis=2)
    a = d2.argmin(axis=1)
    members = [
        [ids[i] for i in np.flatnonzero(a == j)] for j in range(k1)
    ]
    keep = [j for j, m in enumerate(members) if m]
    return [list(map(float, sc[j])) for j in keep], [
        members[j] for j in keep
    ]


def _assign_cells_two_level(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    branch: int | None = None,
    probe_supers: int = 2,
) -> DataFrame:
    """Two-level (coarse -> fine) cell assignment: route each vector to
    its ``probe_supers`` nearest SUPER-centroids, then GEMM only against
    those super-cells' member fine centroids — O(N * (K1 + probe *
    nlist/K1) * dims) instead of the flat path's O(N * nlist * dims),
    ~sqrt(nlist)-fold fewer flops at the default branching.  This is the
    standard coarse-quantizer front (faiss fronts an HNSW/IMI quantizer
    the same way) that makes SemDeDup's nlist-scales-with-N sizing
    viable past ~1e4 cells, where even BLAS flat assignment is
    flop-bound.

    APPROXIMATE: a vector whose true fine centroid hides under an
    unprobed super-cell is routed to its best PROBED fine centroid —
    the classic recall-for-flops trade, bounded by ``probe_supers``
    (pytest pins the agreement rate against flat assignment).  Output
    schema and score semantics match :func:`_assign_cells_arrow`
    (round-4 cosine, lowest-cell ties).
    """
    import numpy as np
    import pandas as pd

    order = sorted(cents, key=lambda cv: cv[0])
    C = np.asarray([v for _, v in order], dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    cell_ids = np.asarray([c for c, _ in order], dtype=np.int64)
    pos_of_cell = {c: i for i, c in enumerate(cell_ids)}
    supers, members = two_level_quantizer(cents, branch=branch)
    SC = np.asarray(supers, dtype=np.float64)
    scn = np.sqrt((SC * SC).sum(axis=1))
    member_pos = [
        np.asarray([pos_of_cell[c] for c in m], dtype=np.int64)
        for m in members
    ]
    p = min(int(probe_supers), len(supers))
    schema = (
        f"`{id_col}` long, `{vec_col}` array<double>, _vn double, "
        "cell int, centroid_sim double"
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.sqrt((V * V).sum(axis=1))
            # zero-norm guard (see _assign_cells_arrow)
            S1 = (V @ SC.T) / (
                np.maximum(vn, 1e-30)[:, None] * scn[None, :]
            )
            # top-p super-cells per row; rows sharing a probe SET batch
            # into one GEMM against the union of member centroids
            top = np.argsort(-S1, axis=1)[:, :p]
            top.sort(axis=1)
            best_cell = np.empty(len(V), dtype=np.int64)
            best_sim = np.empty(len(V), dtype=np.float64)
            keys = [tuple(r) for r in top]
            by_key: dict[tuple, list[int]] = {}
            for i, k in enumerate(keys):
                by_key.setdefault(k, []).append(i)
            for k, rows in by_key.items():
                pos = np.concatenate([member_pos[s] for s in k])
                rows = np.asarray(rows)
                sub = V[rows]
                S2 = np.round(
                    (sub @ C[pos].T)
                    / (
                        np.maximum(vn[rows], 1e-30)[:, None]
                        * cn[pos][None, :]
                    ),
                    4,
                )
                # lowest-cell tie-break: scan candidates in cell order
                o = np.argsort(cell_ids[pos], kind="stable")
                S2o = S2[:, o]
                am = S2o.argmax(axis=1)
                best_cell[rows] = cell_ids[pos][o][am]
                best_sim[rows] = S2o[np.arange(len(rows)), am]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: list(pdf[vec_col]),
                    "_vn": vn,
                    "cell": best_cell.astype("int32"),
                    "centroid_sim": best_sim,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(fn, schema)


def _semantic_pairs_arrow(
    assigned: DataFrame,
    threshold: float,
    block_factor: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The BLAS pair-verify stage for large-``nlist`` SemDeDup: the same
    (cell, block-pair) candidate decomposition as the relational join,
    executed as one GEMM per group via ``applyInPandas`` instead of one
    interpreted 64-term HOF fold per candidate pair.  At the
    nlist-scales-with-N sizing the verify stage dominates end-to-end cost
    (measured 722 s of the x1000 scaled probe cell = ~16e9 interpreted
    lambda evals for 250M candidate pairs; the same flops are seconds of
    GEMM at memory bandwidth).

    Output (v1, s1, v2, s2) matches the join stage: every within-cell
    unordered pair with round-4 cosine >= threshold, v1 < v2, with each
    member's centroid_sim riding along for the loser rule.  Same numeric
    caveats as every numpy path (BLAS accumulation order + half-even vs
    HALF_UP rounding can flip a round-4 BOUNDARY pair) — gated to
    ``nlist >= ARROW_ASSIGN_MIN_NLIST`` alongside the assignment, so the
    oracle-pinned small-nlist defaults never take it.

    Memory: a group holds at most two id-blocks of ONE cell (~2/B of the
    hottest cell's rows x dims doubles) — ``block_factor`` bounds both
    parallelism and per-task memory, exactly as it does for the join.
    """
    import numpy as np
    import pandas as pd

    B = max(int(block_factor), 1)
    blk = F.pmod(F.col(id_col), F.lit(B)).cast("int")
    base = assigned.select(
        id_col, vec_col, "_vn", "centroid_sim", "cell"
    )
    lo = base.withColumn("_bi", blk).withColumn(
        "_bj", F.explode(F.sequence(blk, F.lit(B - 1)))
    )
    # NOTE sequence(0, blk - 1) would DESCEND to [0, -1] at blk = 0
    # (Spark auto-steps -1 when start > stop) — emit the inclusive
    # range and drop the same-block key instead
    hi = (
        base.withColumn("_bj", blk)
        .withColumn("_bi", F.explode(F.sequence(F.lit(0), blk)))
        .where(F.col("_bi") < F.col("_bj"))
    )
    both = lo.withColumn("_side", F.lit(0)).unionByName(
        hi.withColumn("_side", F.lit(1))
    )
    schema = "v1 long, s1 double, v2 long, s2 double"
    thr = float(threshold)

    empty = pd.DataFrame(
        {"v1": [], "s1": [], "v2": [], "s2": []}
    ).astype({"v1": "int64", "v2": "int64"})

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["_side"] == 0]
        right = pdf[pdf["_side"] == 1]
        # a cell may populate only one block of a cross-block key (or a
        # single row of a same-block key) — nothing to pair
        if len(left) == 0 or (len(right) == 0 and len(left) < 2):
            return empty
        ids_l = left[id_col].to_numpy()
        V_l = np.vstack([np.asarray(v, dtype=np.float64) for v in left[vec_col]])
        vn_l = left["_vn"].to_numpy()
        cs_l = left["centroid_sim"].to_numpy()
        if len(right):
            # cross-block rectangle: roles fixed by block
            ids_r = right[id_col].to_numpy()
            V_r = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in right[vec_col]]
            )
            S = np.round(
                (V_l @ V_r.T) / (vn_l[:, None] * right["_vn"].to_numpy()[None, :]), 4
            )
            ii, jj = np.nonzero(S >= thr)
            if not len(ii):
                return pd.DataFrame(
                    {"v1": [], "s1": [], "v2": [], "s2": []}
                ).astype({"v1": "int64", "v2": "int64"})
            a_ids, b_ids = ids_l[ii], ids_r[jj]
            a_cs, b_cs = cs_l[ii], right["centroid_sim"].to_numpy()[jj]
        else:
            # same-block triangle: pair each unordered pair once by id
            S = np.round(
                (V_l @ V_l.T) / (vn_l[:, None] * vn_l[None, :]), 4
            )
            ii, jj = np.nonzero(np.triu(S >= thr, k=1))
            if not len(ii):
                return pd.DataFrame(
                    {"v1": [], "s1": [], "v2": [], "s2": []}
                ).astype({"v1": "int64", "v2": "int64"})
            a_ids, b_ids = ids_l[ii], ids_l[jj]
            a_cs, b_cs = cs_l[ii], cs_l[jj]
        first = a_ids < b_ids
        return pd.DataFrame(
            {
                "v1": np.where(first, a_ids, b_ids),
                "s1": np.where(first, a_cs, b_cs),
                "v2": np.where(first, b_ids, a_ids),
                "s2": np.where(first, b_cs, a_cs),
            }
        )

    return both.groupBy("cell", "_bi", "_bj").applyInPandas(fn, schema)


def semantic_dedup(
    emb: DataFrame,
    nlist: int | None = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    block_factor: int = 4,
    assign_two_level: bool | None = None,
    target_cell_size: int = DEFAULT_TARGET_CELL_SIZE,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    embedding space, then drop within-cluster *semantic* duplicates —
    pairs whose exact cosine >= ``threshold`` — keeping the member LESS
    similar to its cluster centroid (the paper's keep-low-centroid-sim
    rule: peripheral examples carry more information than prototypical
    ones).

    Keep policy, made one-pass and deterministic: a vector is dropped iff
    SOME duplicate partner in its cell has strictly lower
    ``(centroid_sim, vec_id)`` — i.e. only locally-least-central members
    of the duplicate relation survive.  (The paper's sequential greedy
    keeps a maximal independent set; this relational variant never needs
    an ordered scan, and on pairwise-complete duplicate groups — the
    common case at high thresholds — the two agree: the single lowest-sim
    member survives.)  ``centroid_sim`` is rounded to 4 before comparison
    so the tie-break is engine-exact.

    Scale shape: assignment is the IVF map-only projection (inlined
    quantizer literals, zero corpus shuffle); the candidate join is a
    cell-local self-equi-join — never all-pairs — whose per-cell cost is
    the paper's own cost model: ``nlist`` scales as N / target_cell_size
    (LAION-scale runs used ~1e5 clusters), keeping cells bounded.  That
    sizing rule is the DEFAULT: ``nlist=None`` resolves to
    ``max(8, N // target_cell_size)`` via :func:`resolve_nlist` — the
    discipline the scaled probes applied by hand (SCALING.md:
    ``nlist = 8 x factor`` held cells at 250 while N grew 1000x); a
    fixed small ``nlist`` over a growing corpus makes the pair stage
    quadratic in N.  Pass ``nlist`` explicitly only when the quantizer
    must be exactly reproducible (the oracle-pinned queries do).  The
    join key is (cell, block-pair), not cell alone: ``block_factor`` B
    splits every cell into deterministic id-blocks so the pair stage
    runs at ``nlist x B(B+1)/2`` parallelism for ~(B+1)/2x replication —
    without it a hot cell serializes through one task and total
    parallelism is capped at nlist (measured 4-5x on the registered
    query, whose 8 cells under-filled a 32-thread executor).  ``centroids`` injects a
    production quantizer (:func:`kmeans_parallel_centroids`); the default
    deterministic lowest-id sampler is what the DuckDB oracle re-derives.

    Output: one row per vector — (vec_id, cell, centroid_sim, kept).
    """
    cents = centroids if centroids is not None else centroid_rows(
        emb, resolve_nlist(emb, nlist, target_cell_size), id_col, vec_col
    )
    if _resolve_two_level(len(cents), assign_two_level):
        # the >=1e3-1e4-cell production front: coarse->fine routing cuts
        # assignment to O(N * (sqrt(nlist) + 2*sqrt(nlist)) * dims);
        # APPROXIMATE (pytest-pinned agreement on clustered data).
        # assign_two_level=None (the default) takes it automatically at
        # >= TWO_LEVEL_ASSIGN_MIN_NLIST cells — the probe-validated
        # handoff — and never below, so the oracle-pinned small-nlist
        # defaults stay on exact assignment
        assigned = _assign_cells_two_level(emb, cents, id_col, vec_col)
    elif len(cents) >= ARROW_ASSIGN_MIN_NLIST:
        assigned = _assign_cells_arrow(emb, cents, id_col, vec_col)
    else:
        pre = emb.select(
            id_col, vec_col,
            expr_cached(vnorm_sql(vec_col, _cents_dims(cents))).alias("_vn"),
        )
        withcs = pre.select(
            id_col,
            vec_col,
            "_vn",
            expr_cached(ivf_cell_scores_sql(vec_col, cents)).alias("_cs"),
        )
        assigned = withcs.select(
            id_col,
            vec_col,
            "_vn",
            F.element_at(
                expr_cached(_cell_ids_array_sql(cents)),
                F.array_position(F.col("_cs"), F.array_max("_cs")).cast(
                    "int"
                ),
            )
            .cast("int")
            .alias("cell"),
            F.array_max("_cs").alias("centroid_sim"),
        )
    # assignment feeds THREE consumers (both pair-join sides + the
    # final kept join-back); unpersisted, the O(N * nlist) scoring
    # projection re-evaluates per consumer — measured 3x of the
    # dominant stage at nlist-scales-with-N sizing (SCALING.md,
    # semantic_dedup_scaled)
    from .dedup import scratch_persist

    assigned = scratch_persist(assigned)
    if len(cents) >= ARROW_ASSIGN_MIN_NLIST:
        # large-nlist path: the pair VERIFY dominates end-to-end cost at
        # the nlist-scales-with-N sizing, and one interpreted HOF fold
        # per candidate pair is the slow shape — run the identical
        # (cell, block-pair) decomposition as cell-local GEMMs instead
        # (same gate as the assignment: oracle-pinned small-nlist
        # defaults keep the relational join + fold)
        pairs = _semantic_pairs_arrow(
            assigned, threshold, block_factor, id_col, vec_col
        )
        losers = pairs.select(
            F.when(F.col("s1") <= F.col("s2"), F.col("v2"))
            .otherwise(F.col("v1"))
            .alias(id_col)
        ).distinct()
        return (
            assigned.drop(vec_col)
            .join(losers.withColumn("_drop", F.lit(True)), id_col, "left")
            .select(
                id_col,
                "cell",
                "centroid_sim",
                F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
            )
        )
    # block-pair decomposition: joining on cell ALONE caps the pair
    # stage's parallelism at nlist (and a hot cell serializes through
    # one task).  Each vector gets a deterministic block (id % B); the
    # left side carries every (blk, j >= blk) key and the right side
    # every (i <= blk, blk) key, so an unordered cross-block pair meets
    # on exactly ONE (cell, lo, hi) key and a same-block pair meets on
    # (cell, b, b) — the id< filter then keeps each pair once.  The
    # OUTPUT is bit-identical to the plain cell join; what changes is
    # parallelism (nlist x B(B+1)/2 keys) for ~(B+1)/2x replication.
    B = max(int(block_factor), 1)
    blk = F.pmod(F.col(id_col), F.lit(B)).cast("int")
    a = (
        assigned.withColumn("_bi", blk)
        .withColumn("_bj", F.explode(F.sequence(blk, F.lit(B - 1))))
        .alias("a")
    )
    b = (
        assigned.withColumn("_bj", blk)
        .withColumn("_bi", F.explode(F.sequence(F.lit(0), blk)))
        .alias("b")
    )
    # the pair cosine reuses each row's precomputed norm (`_vn`, the
    # exact sqrt(fold) norm_expr would evaluate): the per-pair cost in
    # the cell-local candidate loop drops from three HOF folds to one
    # dot product, and the float chain — dot / (sqrt(na) * sqrt(nb)) —
    # is operation-identical, so the rounded-to-4 values (and the
    # oracle hashes) are unchanged.
    # cross-block keys (lo < hi) pair each (x, y) exactly once with the
    # ROLES fixed by block, not id — so the id inequality only dedupes
    # same-block keys, and v1/v2 are normalized by id afterwards (the
    # loser rule's tie-break assumes v1 < v2)
    same = F.col("a._bi") == F.col("a._bj")
    a_first = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a._bi") == F.col("b._bi"))
            & (F.col("a._bj") == F.col("b._bj"))
            & (~same | a_first)
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .where(
            F.round(
                # guarded straight-line dot (bit-identical to dot_expr's
                # fold; see the unrolling note above _fold_dot_sql);
                # dims comes from the quantizer — rows of any other
                # width fall back to the interpreted fold.  Measured on
                # the registered query's verify stage: 2.2 s -> 1.4 s.
                expr_cached(
                    unrolled_dot_sql(
                        f"a.`{vec_col}`",
                        f"b.`{vec_col}`",
                        _cents_dims(cents),
                    )
                )
                / (F.col("a._vn") * F.col("b._vn")),
                4,
            )
            >= threshold
        )
        .select(
            F.when(a_first, F.col(f"a.{id_col}"))
            .otherwise(F.col(f"b.{id_col}"))
            .alias("v1"),
            F.when(a_first, F.col("a.centroid_sim"))
            .otherwise(F.col("b.centroid_sim"))
            .alias("s1"),
            F.when(a_first, F.col(f"b.{id_col}"))
            .otherwise(F.col(f"a.{id_col}"))
            .alias("v2"),
            F.when(a_first, F.col("b.centroid_sim"))
            .otherwise(F.col("a.centroid_sim"))
            .alias("s2"),
        )
    )
    # the pair's loser: higher centroid_sim, ties -> higher id (v1 < v2)
    losers = pairs.select(
        F.when(F.col("s1") <= F.col("s2"), F.col("v2"))
        .otherwise(F.col("v1"))
        .alias(id_col)
    ).distinct()
    return (
        assigned.drop(vec_col)
        .join(losers.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cell",
            "centroid_sim",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def cluster_balanced_sample(
    emb: DataFrame,
    per_cell: int,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    prefer_peripheral: bool = True,
) -> DataFrame:
    """Cluster-balanced diversity selection: coarse-cluster the embedding
    space (the IVF map-only assignment) and keep at most ``per_cell``
    members per cell — the DataComp-style curation move that stops a few
    dense regions (template pages, one topic's flood) from dominating a
    sample, the embedding-space sibling of the text side's
    :func:`~nntsc_spark.pipeline.text.cap_per_key`.

    ``prefer_peripheral=True`` keeps the members LEAST similar to their
    centroid first (SemDeDup's information-carrying end — prototypical
    near-centroid members are the redundant ones); ``False`` inverts the
    priority for prototype mining.  Ties (round-4 sims) break on the id,
    so the selection is a pure function of (data, centroids).

    Scale shape: assignment is a zero-shuffle projection (inlined
    centroid literals); the ``row_number() <= per_cell`` predicate sits
    directly on the per-cell window, so Catalyst runs it as a
    WindowGroupLimit — each task keeps its local top ``per_cell`` per
    cell BEFORE the one shuffle, and the output is bounded at
    ``nlist x per_cell`` rows however large the corpus.

    Output: (id_col, cell, centroid_sim).
    """
    from pyspark.sql import Window

    cents = centroids if centroids is not None else centroid_rows(
        emb, nlist, id_col, vec_col
    )
    assigned = emb.select(
        id_col,
        expr_cached(vnorm_sql(vec_col, _cents_dims(cents))).alias("_vn"),
        F.col(vec_col),
    ).select(
        id_col,
        expr_cached(ivf_cell_scores_sql(vec_col, cents)).alias("_cs"),
    ).select(
        id_col,
        F.element_at(
            expr_cached(_cell_ids_array_sql(cents)),
            F.array_position(F.col("_cs"), F.array_max("_cs")).cast("int"),
        )
        .cast("int")
        .alias("cell"),
        F.array_max("_cs").alias("centroid_sim"),
    )
    sim = F.col("centroid_sim")
    w = Window.partitionBy("cell").orderBy(
        sim.asc() if prefer_peripheral else sim.desc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(per_cell))
        .drop("_rn")
    )


def curate_embeddings(
    emb: DataFrame,
    nlist: int | None = None,
    threshold: float = 0.95,
    per_cell: int = 15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    block_factor: int = 4,
    assign_two_level: bool | None = None,
    target_cell_size: int = DEFAULT_TARGET_CELL_SIZE,
) -> DataFrame:
    """The embedding-side curation capstone (the vector sibling of
    pipeline/corpus.py's ``training_corpus``): SemDeDup semantic
    de-duplication, then cluster-balanced diversity capping of the
    SURVIVORS — dedup removes redundancy inside dense regions, the cap
    bounds how much any one region contributes to the final sample.

    Composition is zero-recompute: the per-cell cap reuses
    :func:`semantic_dedup`'s own (cell, centroid_sim) assignment —
    BOTH stages see the same quantizer by construction, so "cell"
    means the same thing to the dedup and the cap — and adds exactly
    one WindowGroupLimit window on top.  Output bounded at
    ``nlist x per_cell`` rows.

    ``nlist=None`` (the default) auto-sizes via :func:`resolve_nlist`
    — ``max(8, N // target_cell_size)``, the SemDeDup sizing rule the
    scaled probes validated (see :func:`semantic_dedup`).

    Output: (id_col, cell, centroid_sim).
    """
    from pyspark.sql import Window

    sd = semantic_dedup(
        emb,
        nlist=nlist,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        block_factor=block_factor,
        assign_two_level=assign_two_level,
        target_cell_size=target_cell_size,
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("centroid_sim").asc(), F.col(id_col).asc()
    )
    return (
        sd.where(F.col("kept"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(per_cell))
        .select(id_col, "cell", "centroid_sim")
    )


def ivf_requantize(
    spark,
    path: str,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_kmeans: bool = False,
) -> dict:
    """The drift remediation :func:`ivf_append` flags: re-learn the
    quantizer from the CURRENT corpus (including everything appended
    since the build) and rebuild the index in place, atomically.

    A naive ``ivf_build_index(read(corpus), path)`` overwrites the
    corpus directory while a job is still reading it; this stages the
    rebuild in a dot-prefixed sibling (invisible to readers), then
    swaps the WHOLE index directory in one rename pair with the
    compactors' recovery discipline — a crash at any point leaves
    either the old index or the new one fully readable, never a
    mixture (a per-subdirectory swap could strand a new corpus beside
    old centroids, which silently mis-probes).  O(corpus) by design —
    run it in a maintenance window with the
    :class:`~..streaming.similarity.IvfIndexMaintainer` stopped.

    ``use_kmeans`` upgrades the quantizer to k-means|| refinement
    (:func:`kmeans_parallel_centroids`); default is the same
    deterministic seeding as :func:`ivf_build_index`.

    Returns the new build's stats dict (n, mean_best_cosine).
    """
    import os
    import shutil
    import uuid
    from pathlib import Path

    from ..storage import _recover_compaction

    root = Path(path)
    parent = root.parent
    _recover_compaction(parent)
    # the staged build must MATERIALIZE before the swap: emb is lazy, and
    # rebuilding lazily over the directory being replaced would read
    # through the rename
    emb = spark.read.parquet(f"{path}/corpus").drop("cell", APPEND_BATCH_COL)
    # nlist=None resolves over the CURRENT corpus (everything appended
    # since the build) — requantization is exactly the moment the
    # N/target_cell_size rule should re-evaluate N
    nlist = resolve_nlist(emb, nlist)
    cents = (
        kmeans_parallel_centroids(emb, nlist, id_col=id_col, vec_col=vec_col)
        if use_kmeans
        else centroid_rows(emb, nlist, id_col, vec_col)
    )
    stage = parent / f".compact-stage-{uuid.uuid4().hex[:8]}"
    ivf_build_index(
        emb, str(stage), nlist=nlist, id_col=id_col, vec_col=vec_col,
        centroids=cents,
    )
    row = (
        spark.read.parquet(f"{stage}/stats")
        .where(F.col("kind") == "build")
        .collect()[0]
    )
    trash = parent / f".compact-trash-{root.name}"
    os.rename(root, trash)
    os.rename(stage, root)
    shutil.rmtree(trash)
    return {"n": int(row["n"]), "mean_best_cosine": float(row["mean_best_cosine"])}


def ivf_compact(
    spark,
    path: str,
    target_bytes: int = 128 << 20,
) -> list[str]:
    """Merge accumulated append batches within each IVF cell into
    ~target-size files — the index counterpart of
    :func:`~..storage.compact_fact` for the streaming-append path
    (:class:`~..streaming.similarity.IvfIndexMaintainer`): per-minute
    appends land one file set per (cell, batch) forever, and probe-time
    directory pruning saves nothing if every probed cell then opens
    thousands of footers.

    Each compacted cell collapses to a single ``append_batch=0``
    partition (build-time rows are batch 0 already, so the layout is
    unchanged for readers and :func:`ivf_query_index` needs no
    awareness).  Same idempotence + crash-safety contract as
    compact_fact: cells already at their file-count target are skipped,
    the swap is staged dot-prefixed with a recovery sweep on entry, and
    a crash at any point leaves every vector readable exactly once.

    Run it in a maintenance window with the maintainer stopped (like
    re-quantization): after a cell's batches merge into batch 0, a
    Structured Streaming replay of one of those batch ids would re-append
    its rows — the checkpoint contract (committed epochs never replay)
    is what makes the merge safe, exactly as with compact_fact's closed
    partitions.

    Returns the names of the cell partitions rewritten.
    """
    import math
    import os
    import shutil
    import uuid
    from pathlib import Path

    from ..storage import _partition_parquet_files, _recover_compaction

    root = Path(path) / "corpus"
    if not root.exists():
        return []
    _recover_compaction(root)
    done: list[str] = []
    for part in sorted(root.glob("cell=*")):
        files = _partition_parquet_files(part)
        if not files:
            continue
        total = sum(f.stat().st_size for f in files)
        goal = max(1, math.ceil(total / target_bytes))
        if len(files) <= goal:
            continue
        df = (
            spark.read.option("basePath", str(root)).parquet(str(part))
            .drop("cell", APPEND_BATCH_COL)
        )
        stage = root / f".compact-stage-{uuid.uuid4().hex[:8]}"
        df.coalesce(goal).write.mode("overwrite").parquet(str(stage / "data"))
        dest = stage / "part" / f"{APPEND_BATCH_COL}=0"
        dest.mkdir(parents=True)
        for f in (stage / "data").glob("*.parquet"):
            os.rename(f, dest / f.name)
        trash = root / f".compact-trash-{part.name}"
        os.rename(part, trash)
        os.rename(stage / "part", part)
        shutil.rmtree(trash)
        shutil.rmtree(stage, ignore_errors=True)
        done.append(part.name)
    return done


def ivf_query_index(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF index (:func:`ivf_build_index`).

    The probe list (query x nprobe cells) broadcasts against the corpus
    scan; the equi-join on the PARTITION column triggers Spark's dynamic
    partition pruning, so unprobed cell directories are never read.  No
    driver-side corpus work: the quantizer read is nlist-bounded and the
    query vectors come from a pushed-filter scan of the index itself.
    Matches :func:`ivf_topk` exactly for the same (nlist, nprobe, k).
    """
    from pyspark.sql import Window

    corpus = spark.read.parquet(f"{path}/corpus").drop(APPEND_BATCH_COL)
    cents = [
        (int(r["cell_id"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("cell_id")
        .collect()
    ]
    probe_rank = Window.partitionBy("query_id").orderBy(
        F.desc("c"), F.asc("cell")
    )
    qcells = (
        corpus.where(F.col(id_col).isin(query_ids))
        .select(
            id_col,
            vec_col,
            expr_cached(
                vnorm_sql(vec_col, _cents_dims(cents))
            ).alias("_vn"),
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.posexplode(
                expr_cached(ivf_cell_scores_sql(vec_col, cents))
            ).alias("_pos", "c"),
        )
        .withColumn(
            "cell",
            F.element_at(
                expr_cached(_cell_ids_array_sql(cents)),
                (F.col("_pos") + 1).cast("int"),
            ).cast("int"),
        )
        .withColumn("_pr", F.row_number().over(probe_rank))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    scored = (
        corpus.join(F.broadcast(qcells), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_expr(F.col("qvec"), F.col(vec_col)), 4).alias(
                "cosine"
            ),
        )
    )
    return _per_query_topk(scored, int(k), "cosine", ascending=False)


# ---------------------------------------------------------------------------
# Product quantization (PQ / ADC) — Jegou et al., TPAMI 2011
# ---------------------------------------------------------------------------
#
# IVF-Flat (above) prunes WHICH vectors to scan; PQ compresses the
# vectors themselves: D float32 dims become M uint8 codes (here 64*4 =
# 256 bytes -> 8 bytes, 32x), so a 100 TB embedding corpus's scan state
# fits in memory and distance evaluation becomes M table lookups
# (asymmetric distance computation) instead of D multiply-adds.  The
# composition with IVF cells is the standard billion-scale layout
# (IVF partitions on disk, PQ codes inside each cell).


def pq_split(dims: int, m: int) -> list[tuple[int, int]]:
    """(start, len) of each subspace slice (1-based start for SQL)."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    d = dims // m
    return [(mi * d + 1, d) for mi in range(m)]


def pq_codebooks_sample(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic sampled codebooks: entry ``[mi][code]`` is the
    ``mi``-th subvector of the row with ``id == code`` — the same
    lowest-id convention as :func:`centroid_rows`, kept as the default
    so the DuckDB oracle can re-derive the identical codebooks
    relationally.  Production swaps in :func:`pq_codebooks_kmeans`;
    every downstream stage (encode, ADC, top-k) is unchanged."""
    rows = (
        emb.where(F.col(id_col) < ks)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    vecs = [[float(x) for x in r[1]] for r in rows]
    return [
        [v[s - 1 : s - 1 + d] for v in vecs] for (s, d) in pq_split(dims, m)
    ]


def pq_codebooks_kmeans(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    dims: int = 64,
    train_cap: int = 100_000,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
) -> list[list[list[float]]]:
    """Production codebooks: per-subspace Lloyd k-means over a
    deterministic hash-ordered sample of at most ``train_cap`` rows.

    Codebook training is sample-based by design (the faiss convention:
    the codebook needs ~100-1000 points per centroid, not the corpus),
    so the driver-side numpy work is bounded by ``train_cap * dims``
    floats regardless of corpus size; the distributed passes that
    follow (encode, query) never collect.  Deterministic: the sample is
    the lowest ``(xxhash64(id, seed), id)`` rows and k-means++ seeding
    uses a seeded RandomState, so the same corpus + seed always yields
    the same codebooks."""
    import numpy as np

    sample = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(int(train_cap))
        .collect()
    )
    x = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    rng = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for s, d in pq_split(dims, m):
        sub = x[:, s - 1 : s - 1 + d]
        # k-means++ init
        centers = [sub[rng.randint(len(sub))]]
        for _ in range(1, ks):
            d2 = np.min(
                [((sub - c) ** 2).sum(axis=1) for c in centers], axis=0
            )
            tot = d2.sum()
            if tot <= 0.0:
                # every remaining training point coincides with an
                # already-chosen center (degenerate but realistic for
                # low-cardinality subspaces): d2/tot would feed
                # rng.choice a non-normalized vector and raise — fall
                # back to a uniform draw, keeping the seeded stream
                centers.append(sub[rng.randint(len(sub))])
                continue
            prob = d2 / tot
            centers.append(sub[rng.choice(len(sub), p=prob)])
        cents = np.asarray(centers)
        for _ in range(int(iters)):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ks):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _pq_sub_sql(vec_col: str, start: int, length: int) -> str:
    return (
        f"transform(slice(`{vec_col}`, {start}, {length}), "
        "x -> double(x))"
    )


def _pq_d2_sql(sub_sql: str, n2_sql: str, center: list[float]) -> str:
    """Spark-SQL text: squared L2 distance between a subvector
    expression and an inlined center literal via the norm identity
    d2 = |x|^2 - 2 x.c + |c|^2 — the same formula the DuckDB oracle
    evaluates (list_dot_product), and one dot fold per center instead
    of a squared-diff fold (|x|^2 comes in as ``n2_sql``, computed once
    per subspace)."""
    arr = "array(" + ", ".join(f"{float(c)!r}D" for c in center) + ")"
    dot = (
        f"aggregate(zip_with({sub_sql}, {arr}, "
        "(x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )
    cn2 = sum(float(x) * float(x) for x in center)
    return f"({n2_sql} - 2D * {dot} + {cn2!r}D)"


def _round4_half_up(x: float) -> float:
    """round(x, 4) with SQL HALF_UP semantics for non-negative x (Python
    's builtin round is banker's) — used when a LUT entry is computed
    driver-side but must equal the engines' round()."""
    import math

    return math.floor(x * 10000.0 + 0.5) / 10000.0


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every vector to its M nearest-center codes — a PURE
    PROJECTION over the corpus scan (codebooks inlined as literals, no
    join, no shuffle), the property that makes (re-)encoding 100 TB a
    map-only pass.

    Argmin compares ``round(d2, 4)`` with lowest-code tie-break — the
    repo's cross-engine determinism discipline (the oracle re-derives
    identical codes).  Output: (id, [keep_cols...,] codes array<int>);
    ``keep_cols`` rides columns (e.g. an IVF cell id) through the
    projection so composers never need a re-join on id.
    """
    keep = list(keep_cols or [])
    dims = sum(len(cb[0]) for cb in codebooks)
    m = len(codebooks)
    # stage 1: each subspace's vector and |x|^2, computed once
    stage = emb.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[
            expr_cached(_pq_sub_sql(vec_col, s, d)).alias(f"_s{mi}")
            for mi, (s, d) in enumerate(pq_split(dims, m))
        ],
    ).select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[F.col(f"_s{mi}") for mi in range(m)],
        *[
            expr_cached(
                # guarded straight-line self-dot (bit-identical to the
                # fold; see the unrolling note above _fold_dot_sql)
                f"CASE WHEN size(_s{mi}) = {d} THEN 0D + "
                + " + ".join(
                    f"(_s{mi}[{i}] * _s{mi}[{i}])" for i in range(d)
                )
                + f" ELSE aggregate(zip_with(_s{mi}, _s{mi}, "
                "(x, y) -> x * y), 0D, (acc, x) -> acc + x) END"
            ).alias(f"_n2{mi}")
            for mi, (_, d) in enumerate(pq_split(dims, m))
        ],
    )
    code_exprs = []
    for mi in range(m):
        cells = ", ".join(
            f"struct(round({_pq_d2_sql(f'_s{mi}', f'_n2{mi}', c)}, 4) "
            f"AS d, {code} AS c)"
            for code, c in enumerate(codebooks[mi])
        )
        code_exprs.append(expr_cached(f"array_min(array({cells})).c"))
    return stage.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.array(*code_exprs).alias("codes"),
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    codebooks: list[list[list[float]]] | None = None,
    m: int = 8,
    ks: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): corpus vectors
    live only as codes; each query's distance to a code is the sum of
    per-subspace distances to the decoded centers.

    The per-query LUT (ks x m distances to inlined query literals) is
    built as constant expressions that Catalyst folds at plan time, so
    the scan evaluates M ``element_at`` lookups + an add chain per row —
    no vector arithmetic in the corpus pass at all.  One window for the
    per-query rank is the only shuffle.  Distances are ``round(.., 4)``
    per subspace and again after the (fixed left-to-right) sum, the
    cross-engine determinism discipline.
    """
    if codebooks is None:
        codebooks = pq_codebooks_sample(
            emb, m=m, ks=ks, dims=dims, id_col=id_col, vec_col=vec_col
        )
    from pyspark.sql import Window

    qrows = (
        emb.where(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    codes = pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col)
    per_query = []
    for r in qrows:
        qid, qv = int(r[0]), [float(x) for x in r[1]]
        luts = []
        for mi, (s, d) in enumerate(pq_split(dims, m)):
            qsub = qv[s - 1 : s - 1 + d]
            # LUT entries computed driver-side with EXACTLY the oracle's
            # arithmetic (n2q - 2*dot + n2c, index-order dots, HALF_UP
            # round) and inlined as plain literals — the optimizer sees
            # ks doubles per subspace instead of ks fold expressions to
            # constant-fold, which is what keeps query planning O(ms)
            n2q = 0.0
            for x in qsub:
                n2q += x * x
            ents = []
            for c in codebooks[mi]:
                dot = 0.0
                n2c = 0.0
                for a, b in zip(qsub, c):
                    dot += a * b
                for b in c:
                    n2c += b * b
                ents.append(repr(_round4_half_up(n2q - 2.0 * dot + n2c)))
            luts.append(
                "element_at(array("
                + ", ".join(f"{e}D" for e in ents)
                + f"), codes[{mi}] + 1)"
            )
        chain = " + ".join(luts)
        per_query.append(
            f"struct(CAST({qid} AS BIGINT) AS query_id, "
            f"round({chain}, 4) AS adc_d2)"
        )
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(expr_cached(f"array({', '.join(per_query)})")).alias("_q"),
    ).select("neighbor_id", "_q.query_id", "_q.adc_d2")
    scored = exploded.where(F.col("neighbor_id") != F.col("query_id"))
    return _per_query_topk(scored, int(k), "adc_d2", ascending=True)


# --------------------------------------------------------------------------
# IVF-PQ (IVFADC): coarse cells + product-quantized residuals
# --------------------------------------------------------------------------


def _cents_array_sql(cents: list[tuple[int, list[float]]]) -> str:
    """SQL literal: array of centroid vectors ordered by cell id, for
    ``element_at(..., cell + 1)`` lookup."""
    parts = []
    for _, vec in sorted(cents, key=lambda cv: cv[0]):
        parts.append(
            "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"
        )
    return "array(" + ", ".join(parts) + ")"


def _assign_l2_round4_sql(vec_col: str, n2_col: str,
                          cents: list[tuple[int, list[float]]]) -> str:
    """SQL text: the ARRAY of round-4-pinned FULL squared L2 distances
    ``round(|x|^2 - 2 x.c + |c|^2, 4)`` to every centroid (cell order).

    Returns the array, NOT the argmin: higher-order-function folds run
    interpreted (outside codegen), so the caller must materialize this
    array in its OWN projection layer and take
    ``array_position(ds, array_min(ds)) - 1`` over the COLUMN in the
    next layer — inlining the argmin would evaluate all nlist folds
    twice per row (once under array_position, once under array_min), the
    blowup :func:`ivf_topk`'s ``_cs`` layer exists to prevent.

    Unlike :func:`_argmin_cells_sql`'s unrounded ``|c|^2 - 2 x.c`` form,
    the full non-negative d2 is round-4 pinned: residual codebooks hang
    off the assignment, so it must be re-derivable bit-identically by
    the oracle AND by driver-side Python (:func:`_assign_l2_py`), and
    HALF_UP rounding of a NEGATIVE partial d2 is where Python and SQL
    semantics would diverge.
    """
    terms = []
    for _, c in sorted(cents, key=lambda cv: cv[0]):
        c = [float(x) for x in c]
        arr = "array(" + ", ".join(f"{x!r}D" for x in c) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            f"(x, y) -> double(x) * y), 0D, (acc, x) -> acc + x)"
        )
        cn2 = 0.0
        for x in c:
            cn2 += x * x
        terms.append(f"round(`{n2_col}` - 2D * {dot} + {cn2!r}D, 4)")
    # NOTE: nlist x dims straight-line unrolling measured and REJECTED
    # here (huge-method JIT bailout; see the note in _fold_dot_sql)
    return "array(" + ", ".join(terms) + ")"


def _assign_l2_py(v: list[float], cents: list[tuple[int, list[float]]]) -> int:
    """Driver-side replica of :func:`_assign_l2_round4_sql`: identical
    left-to-right float64 folds, identical HALF_UP round, ties -> lowest
    cell — so codebooks sampled driver-side encode EXACTLY as the
    distributed projection does."""
    n2 = 0.0
    for x in v:
        n2 += x * x
    best_d, best_c = None, None
    for cell, c in sorted(cents, key=lambda cv: cv[0]):
        dot = 0.0
        for a, b in zip(v, c):
            dot += a * b
        cn2 = 0.0
        for b in c:
            cn2 += b * b
        d = _round4_half_up(n2 - 2.0 * dot + cn2)
        if best_d is None or d < best_d:
            best_d, best_c = d, cell
    return int(best_c)


def _ivfpq_residuals_two_level(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    branch: int | None = None,
    probe_supers: int = 2,
) -> DataFrame:
    """Two-level (coarse -> fine) residual assignment for the IVFADC
    ENCODE side: route each vector to its ``probe_supers`` nearest
    super-centroids by squared L2, take the exact round-4 full d2 argmin
    over only those super-cells' member centroids, and subtract the
    winner — O(N * (K1 + probe * nlist/K1) * dims) flops instead of the
    flat fold's O(N * nlist) INTERPRETED lambda folds, the same
    coarse-quantizer front :func:`_assign_cells_two_level` gives the
    cosine paths (r10 verdict task #7: assignment dominates the index
    build cost exactly in the >=1e4-cell regime the persistent index
    exists for).

    Same L2 conventions as :func:`_assign_l2_round4_sql` (full
    non-negative d2, round 4, ties -> lowest cell id), with the
    two standing numeric caveats of every numpy path: BLAS accumulation
    order and half-even rounding can flip a round-4 BOUNDARY tie vs the
    fold — so this is strictly opt-in and the oracle-pinned defaults
    never take it.  APPROXIMATE like its cosine sibling: a vector whose
    true cell hides under an unprobed super-cell lands in its best
    probed cell (full probe == flat, pytest-pinned).
    """
    import numpy as np
    import pandas as pd

    order = _canon_cents(cents)
    C = np.asarray([v for _, v in order], dtype=np.float64)
    cn2 = (C * C).sum(axis=1)
    cell_ids = np.asarray([c for c, _ in order], dtype=np.int64)
    pos_of_cell = {c: i for i, c in enumerate(cell_ids)}
    supers, members = two_level_quantizer(cents, branch=branch)
    SC = np.asarray(supers, dtype=np.float64)
    scn2 = (SC * SC).sum(axis=1)
    member_pos = [
        np.asarray([pos_of_cell[c] for c in m], dtype=np.int64)
        for m in members
    ]
    p = min(int(probe_supers), len(supers))
    schema = f"`{id_col}` long, cell int, residual array<double>"

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n2 = (V * V).sum(axis=1)
            # routing metric: squared L2 to super-centroids (monotone in
            # the unrounded distance — no rounding needed to pick probes)
            D1 = n2[:, None] - 2.0 * (V @ SC.T) + scn2[None, :]
            top = np.argsort(D1, axis=1, kind="stable")[:, :p]
            top.sort(axis=1)
            best_pos = np.empty(len(V), dtype=np.int64)
            keys = [tuple(r) for r in top]
            by_key: dict[tuple, list[int]] = {}
            for i, k in enumerate(keys):
                by_key.setdefault(k, []).append(i)
            for k, rows in by_key.items():
                pos = np.concatenate([member_pos[s] for s in k])
                rows = np.asarray(rows)
                sub = V[rows]
                D2 = np.round(
                    n2[rows][:, None]
                    - 2.0 * (sub @ C[pos].T)
                    + cn2[pos][None, :],
                    4,
                )
                # lowest-cell tie-break: scan candidates in cell order
                o = np.argsort(cell_ids[pos], kind="stable")
                am = D2[:, o].argmin(axis=1)
                best_pos[rows] = pos[o][am]
            R = V - C[best_pos]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": cell_ids[best_pos].astype("int32"),
                    "residual": list(R),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(fn, schema)


def ivfpq_residuals(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_two_level: bool = False,
    probe_supers: int = 2,
) -> DataFrame:
    """(id, cell, residual): assign each vector to its nearest coarse
    centroid (full-L2 round-4 argmin, ties -> lowest cell) and subtract
    that centroid — BOTH steps pure projections over the scan (quantizer
    inlined as literals, ``element_at`` centroid lookup), so residualing
    100 TB is a map-only pass.  Feed the output to
    :func:`pq_codebooks_kmeans(..., vec_col="residual")` for production
    residual codebooks, or to :func:`pq_encode` for codes.

    ``assign_two_level=True`` swaps the flat inlined-fold argmin for the
    coarse->fine numpy front (:func:`_ivfpq_residuals_two_level`) — the
    large-``nlist`` build path; strictly opt-in (approximate routing +
    numpy rounding caveats), oracle-pinned defaults never take it."""
    if assign_two_level:
        return _ivfpq_residuals_two_level(
            emb, centroids, id_col, vec_col, probe_supers=probe_supers
        )
    pre = emb.select(
        id_col,
        vec_col,
        # guarded straight-line self-dot (bit-identical to the fold;
        # see the unrolling note above _fold_dot_sql)
        expr_cached(
            unrolled_dot_sql(
                f"`{vec_col}`", f"`{vec_col}`",
                _cents_dims(centroids),
            )
        ).alias("_n2"),
    )
    # the nlist fold expressions materialize ONCE per row in their own
    # projection (the ivf_topk `_cs` discipline); argmin then reads the
    # column — inlined, array_position + array_min would each re-run
    # every fold (measured 80 s -> this layering at the x100 probe)
    withds = pre.select(
        id_col,
        vec_col,
        expr_cached(_assign_l2_round4_sql(vec_col, "_n2", centroids)).alias(
            "_ds"
        ),
    )
    assigned = withds.select(
        id_col,
        vec_col,
        # positional index stays INTERNAL (drives the centroid-vector
        # element_at); the emitted `cell` is the ACTUAL centroid id, the
        # same label _ivfpq_probe_luts keys its ADC LUTs by
        (F.array_position(F.col("_ds"), F.array_min("_ds")) - 1)
        .cast("int")
        .alias("_pos"),
    )
    return assigned.select(
        id_col,
        F.element_at(
            expr_cached(_cell_ids_array_sql(centroids)),
            (F.col("_pos") + 1).cast("int"),
        )
        .cast("int")
        .alias("cell"),
        expr_cached(
            f"zip_with(`{vec_col}`, "
            f"element_at({_cents_array_sql(centroids)}, _pos + 1), "
            "(x, y) -> double(x) - y)"
        ).alias("residual"),
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVFADC (Jegou, Douze & Schmid 2011, §IV): coarse-quantize into
    ``nlist`` cells, product-quantize the RESIDUAL ``x - c(x)``, answer
    queries by probing ``nprobe`` cells with a per-(query, cell) ADC
    lookup table over the residual codes — the composition of this
    repo's :func:`ivf_topk` (cell pruning) and :func:`pq_topk`
    (32x-compressed distance evaluation), and the memory layout that
    holds billion-vector indexes.

    Scale shape: cell assignment, residualing, and encoding are pure
    projections (quantizer + codebooks inlined — at cluster scale
    ``cell`` becomes a partition column and probes prune directories);
    the query pass is one broadcast equi-join on ``cell`` against a
    (queries x nprobe) LUT table whose per-subspace distance arrays ride
    as literal columns, so the corpus side evaluates M ``element_at``
    lookups + an add chain per candidate; the per-query rank window is
    the only shuffle.  Scan cost per query is ~``nprobe/nlist`` of the
    corpus AND each candidate costs M adds instead of ``dims``
    multiplies.

    Defaults are the oracle-re-derivable conventions: ``centroids`` =
    lowest-id rows (:func:`centroid_rows`), ``codebooks`` = residual
    subvectors of the ``ks`` lowest-id rows; production passes
    :func:`kmeans_parallel_centroids` output and
    :func:`pq_codebooks_kmeans` over :func:`ivfpq_residuals` — every
    downstream stage is identical (pytest-pinned recall).

    Output: (query_id, neighbor_id, rank, adc_d2).
    """
    from pyspark.sql import Window

    cents = centroids if centroids is not None else centroid_rows(
        emb, nlist, id_col, vec_col
    )
    res = ivfpq_residuals(emb, cents, id_col=id_col, vec_col=vec_col)
    if codebooks is None:
        codebooks = _sampled_residual_codebooks(
            emb, cents, ks, m, dims, id_col, vec_col
        )
    codes = pq_encode(
        res, codebooks, id_col=id_col, vec_col="residual",
        keep_cols=["cell"],
    )
    qrows = (
        emb.where(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    by_cell_d = _ivfpq_probe_luts(
        qrows, cents, codebooks, int(nprobe), int(m), int(dims)
    )
    return _ivfpq_adc_topk(
        codes, by_cell_d, int(k), int(m), id_col=id_col
    )


def _ivfpq_probe_luts(
    qrows,
    cents: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    nprobe: int,
    m: int,
    dims: int,
) -> list[tuple[int, int, list[list[float]]]]:
    """Driver-side IVFADC query prep: per (query, probed cell), the M
    per-subspace ADC lookup tables over the query's RESIDUAL in that
    cell — computed with the exact engine arithmetic (left-to-right
    float64 folds, HALF_UP round) so the distributed ADC chain and the
    DuckDB oracle reproduce identical distances.  Output size is
    bounded at ``len(qrows) * nprobe * m * ks`` doubles regardless of
    corpus size — always broadcastable."""
    cmap = {cell: [float(x) for x in cents_v] for cell, cents_v in cents}
    by_cell_d: list[tuple[int, int, list[list[float]]]] = []
    for r in qrows:
        qid, qv = int(r[0]), [float(x) for x in r[1]]
        n2 = 0.0
        for x in qv:
            n2 += x * x
        scored = []
        for cell in sorted(cmap):
            c = cmap[cell]
            dot = 0.0
            for a, b in zip(qv, c):
                dot += a * b
            cn2 = 0.0
            for b in c:
                cn2 += b * b
            scored.append((_round4_half_up(n2 - 2.0 * dot + cn2), cell))
        probe = [cell for _, cell in sorted(scored)[: int(nprobe)]]
        for cell in probe:
            qres = [a - b for a, b in zip(qv, cmap[cell])]
            luts = []
            for mi, (s, d) in enumerate(pq_split(dims, m)):
                qsub = qres[s - 1 : s - 1 + d]
                qn2 = 0.0
                for x in qsub:
                    qn2 += x * x
                ents = []
                for c in codebooks[mi]:
                    dot = 0.0
                    bn2 = 0.0
                    for a, b in zip(qsub, c):
                        dot += a * b
                    for b in c:
                        bn2 += b * b
                    ents.append(_round4_half_up(qn2 - 2.0 * dot + bn2))
                luts.append(ents)
            by_cell_d.append((qid, cell, luts))
    return by_cell_d


def _ivfpq_adc_topk(
    codes: DataFrame,
    by_cell_d: list[tuple[int, int, list[list[float]]]],
    k: int,
    m: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC scoring + top-k against a (id, cell, codes) table: broadcast
    the (queries x nprobe) LUT table, equi-join on ``cell`` (dynamic
    partition pruning when ``cell`` is a partition column), evaluate M
    ``element_at`` lookups + an add chain per candidate, then the
    two-stage :func:`_per_query_topk`."""
    spark = codes.sparkSession
    probe_df = local_frame(
        spark,
        by_cell_d,
        "query_id long, cell int, luts array<array<double>>",
    )
    chain = " + ".join(
        f"element_at(element_at(luts, {mi + 1}), codes[{mi}] + 1)"
        for mi in range(m)
    )
    scored = (
        codes.join(F.broadcast(probe_df), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            expr_cached(f"round({chain}, 4)").alias("adc_d2"),
        )
    )
    return _per_query_topk(scored, int(k), "adc_d2", ascending=True)


def _sampled_residual_codebooks(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    ks: int,
    m: int,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Sampled residual codebooks: the ``ks`` lowest-id rows' residuals,
    assigned + residualed driver-side with the projection's exact
    arithmetic so the oracle can re-derive them relationally.
    Production swaps in :func:`pq_codebooks_kmeans` over
    :func:`ivfpq_residuals` output."""
    srows = (
        emb.where(F.col(id_col) < ks)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    cmap = {cell: [float(x) for x in vec] for cell, vec in cents}
    rvecs = []
    for r in srows:
        v = [float(x) for x in r[1]]
        cv = cmap[_assign_l2_py(v, cents)]
        rvecs.append([a - b for a, b in zip(v, cv)])
    return [
        [rv[s - 1 : s - 1 + d] for rv in rvecs]
        for (s, d) in pq_split(dims, m)
    ]


def _write_ivfpq_stats(
    codes: DataFrame, path: str, kind: str, batch_id: int,
    observed: dict | None = None,
) -> dict:
    """One (kind, batch_id, n, mean_resid_norm) row in the IVFADC
    index's stats table — same idempotence contract as the IVF-Flat
    :func:`_write_assign_stats` (build statically overwrites, append
    dynamically overwrites its own batch partition).  The drift metric
    is the batch's mean residual L2 norm: a fixed coarse quantizer rots
    as the distribution moves, and rotting shows up directly as GROWING
    residuals (which the fixed-range PQ codebooks then quantize badly —
    recall decays silently).

    ``observed`` carries metrics already collected by an ``Observation``
    riding the codes write (keys ``n``, ``mean_rnorm``) — zero extra
    passes; without it, one aggregation job over ``codes``."""
    if observed is not None:
        row = observed
    else:
        row = codes.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("_rnorm").alias("mean_rnorm"),
        ).collect()[0]
    stats = {"kind": kind, "n": int(row["n"]),
             "mean_resid_norm": float(row["mean_rnorm"] or 0.0)}
    out = local_frame(
        codes.sparkSession,
        [(kind, int(batch_id), stats["n"], stats["mean_resid_norm"])],
        "kind string, batch_id long, n long, mean_resid_norm double",
    ).write.partitionBy("batch_id")
    if kind == "build":
        out.mode("overwrite").parquet(f"{path}/stats")
    else:
        out.option("partitionOverwriteMode", "dynamic").mode(
            "overwrite"
        ).parquet(f"{path}/stats")
    return stats


def _ivfpq_encode_batch(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    assign_two_level: bool = False,
    probe_supers: int = 2,
) -> DataFrame:
    """(id, cell, codes, _rnorm): the map-only assign -> residual ->
    encode chain shared by build and append, with the residual norm
    riding along for the stats/drift pass."""
    res = ivfpq_residuals(
        emb, cents, id_col=id_col, vec_col=vec_col,
        assign_two_level=assign_two_level, probe_supers=probe_supers,
    )
    rdims = _cents_dims(cents)
    _rn_fold = (
        "aggregate(zip_with(residual, residual, "
        "(x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )
    res = res.withColumn(
        "_rnorm",
        # guarded straight-line self-dot (bit-identical to the fold; see
        # the unrolling note above _fold_dot_sql) — the fold lambda here
        # has no casts (residuals are already double), so neither branch
        # does
        expr_cached(
            f"sqrt({_rn_fold})"
            if rdims is None
            else (
                f"sqrt(CASE WHEN size(residual) = {rdims} THEN 0D + "
                + " + ".join(
                    f"(residual[{i}] * residual[{i}])"
                    for i in range(rdims)
                )
                + f" ELSE {_rn_fold} END)"
            )
        ),
    )
    return pq_encode(
        res, codebooks, id_col=id_col, vec_col="residual",
        keep_cols=["cell", "_rnorm"],
    )


def ivfpq_build_index(
    emb: DataFrame,
    path: str,
    nlist: int | None = None,
    nprobe: int = 4,  # noqa: ARG001 — recorded for symmetry; query-time knob
    m: int = 8,
    ks: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    assign_two_level: bool = False,
    probe_supers: int = 2,
) -> None:
    """Materialize the IVFADC index on disk: PQ codes of the residuals
    written ``partitionBy(cell, append_batch)`` plus the quantizer and
    codebooks as their own tiny tables — the billion-vector layout of
    Jegou et al. 2011 (IVF cells partition on disk, 32x-compressed PQ
    codes inside each cell), and the encode-once counterpart of
    :func:`ivfpq_topk`'s per-call projection.

    The expensive pass (assign + residual + encode, map-only) runs
    ONCE; every :func:`ivfpq_query_index` afterwards reads only its
    probed cells' code directories (~``nprobe/nlist`` of the files via
    dynamic partition pruning) and each candidate costs M byte lookups
    instead of ``dims`` multiplies.  ``centroids``/``codebooks`` inject
    production quantizers (:func:`kmeans_parallel_centroids`,
    :func:`pq_codebooks_kmeans` over :func:`ivfpq_residuals`); defaults
    are the oracle-re-derivable sampled conventions, identical to
    :func:`ivfpq_topk`'s.

    ``assign_two_level=True`` routes the assign/residual pass through
    the coarse->fine quantizer front (r10 verdict task #7) — the build's
    dominant cost at the 1e5-cell regime the persistent index exists
    for; opt-in, with served-results parity at full probe pytest-pinned.
    """
    spark = emb.sparkSession
    # nlist=None -> resolve_nlist's N/target_cell_size rule (see
    # ivf_build_index) — the persistent-index builds inherit the same
    # sizing default as the in-memory family
    cents = centroids if centroids is not None else centroid_rows(
        emb, resolve_nlist(emb, nlist), id_col, vec_col
    )
    if codebooks is None:
        codebooks = _sampled_residual_codebooks(
            emb, cents, ks, m, dims, id_col, vec_col
        )
    # Stats metrics ride the codes write as an Observation: the encode
    # chain is evaluated exactly once, in the write pass, with no persist
    # — the pre-r15 shape persisted the full codes table just to
    # aggregate two scalars afterwards (at 100 TB that caches — or, on
    # eviction, re-encodes — the whole index body for a 1-row stats
    # table; guide §5).  The two tiny quantizer writes are independent
    # of the codes write and run CONCURRENTLY on a driver thread (guide
    # §2.6: overlap independent jobs); the caller's fingerprint still
    # lands only after everything here returned.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    obs = Observation()
    codes = _ivfpq_encode_batch(
        emb, cents, codebooks, id_col, vec_col,
        assign_two_level=assign_two_level, probe_supers=probe_supers,
    ).observe(
        obs, F.count(F.lit(1)).alias("n"), F.avg("_rnorm").alias("mean_rnorm")
    )

    def _write_quantizers() -> None:
        local_frame(
            spark,
            [(int(c), [float(x) for x in v]) for c, v in cents],
            "cell_id int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        local_frame(
            spark,
            [
                (mi, ci, [float(x) for x in center])
                for mi, book in enumerate(codebooks)
                for ci, center in enumerate(book)
            ],
            "mi int, code int, center array<double>",
        ).write.mode("overwrite").parquet(f"{path}/codebooks")

    with ThreadPoolExecutor(max_workers=1) as pool:
        quant_fut = pool.submit(_write_quantizers)
        (
            codes.drop("_rnorm")
            .withColumn(APPEND_BATCH_COL, F.lit(0))
            # cluster by the partition column before the partitioned
            # write: without it every task holding rows of cell c opens a
            # file under cell=c (up to tasks x cells tiny files — the
            # classic dynamic-partition small-file storm); with it each
            # cell's rows land in one task.  At 100 TB add a salt to the
            # repartition keys to split a giant cell across several
            # writers.
            .repartition("cell")
            .write.partitionBy("cell", APPEND_BATCH_COL)
            .mode("overwrite")
            .parquet(f"{path}/codes")
        )
        quant_fut.result()
    _write_ivfpq_stats(codes, path, "build", 0, observed=obs.get)


def _read_ivfpq_quantizers(
    spark: SparkSession, path: str
) -> tuple[list[tuple[int, list[float]]], list[list[list[float]]]]:
    cents = [
        (int(r["cell_id"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("cell_id")
        .collect()
    ]
    cb_rows = (
        spark.read.parquet(f"{path}/codebooks")
        .orderBy("mi", "code")
        .collect()
    )
    m = max(r["mi"] for r in cb_rows) + 1
    codebooks: list[list[list[float]]] = [[] for _ in range(m)]
    for r in cb_rows:
        codebooks[r["mi"]].append([float(x) for x in r["center"]])
    return cents, codebooks


def ivfpq_append(
    new: DataFrame,
    path: str,
    batch_id: int,
    drift_tol: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental IVFADC maintenance: encode NEW vectors against the
    EXISTING quantizer + codebooks and land them in their
    ``cell=.../append_batch=N`` code partitions — no corpus re-encode,
    the exactly-once contract of :func:`ivf_append` extended to the PQ
    codes table (r9 verdict task #7).  A retried ``batch_id`` REPLACES
    its own (cell, batch) partitions with identical deterministic
    content instead of appending rows a second time.

    Drift: each batch's mean residual L2 norm is compared to the
    build-time anchor; a RELATIVE growth beyond ``drift_tol`` flags
    ``needs_requantization`` (growing residuals are exactly what a
    stale coarse quantizer produces, and the fixed PQ codebooks then
    quantize the out-of-range residuals badly).  Requantization =
    re-run :func:`ivfpq_build_index` over the full corpus.

    Returns {n_appended, mean_resid_norm, build_mean_resid_norm,
    needs_requantization}.
    """
    if int(batch_id) <= 0:
        raise ValueError("batch_id must be > 0 (0 is the build batch)")
    spark = new.sparkSession
    cents, codebooks = _read_ivfpq_quantizers(spark, path)
    from pyspark.sql import Observation

    obs = Observation()
    codes = _ivfpq_encode_batch(
        new, cents, codebooks, id_col, vec_col
    ).observe(
        obs, F.count(F.lit(1)).alias("n"), F.avg("_rnorm").alias("mean_rnorm")
    )
    (
        codes.drop("_rnorm")
        .withColumn(APPEND_BATCH_COL, F.lit(int(batch_id)))
        .repartition("cell")  # one writer per cell (see build note)
        .write.partitionBy("cell", APPEND_BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(f"{path}/codes")
    )
    # stats AFTER the codes land (matching ivfpq_build_index's order): a
    # crash between the two writes must not leave a stats row for a batch
    # whose codes never arrived — drift monitoring would see a phantom
    # append until the batch retried.  The codes-first order fails safe:
    # orphaned code partitions are replaced by the retry, and a batch
    # with codes but no stats row under-counts rather than fabricates.
    # The metrics themselves rode the codes write (Observation) — the
    # encode chain ran once, unpersisted.
    stats = _write_ivfpq_stats(
        codes, path, "append", batch_id, observed=obs.get
    )
    build_rows = (
        spark.read.parquet(f"{path}/stats")
        .where(F.col("kind") == "build")
        .orderBy(F.desc("batch_id"))
        .collect()
    )
    build_mean = (
        float(build_rows[0]["mean_resid_norm"]) if build_rows else None
    )
    drift = (
        build_mean is not None
        and build_mean > 0
        and stats["n"] > 0
        and stats["mean_resid_norm"] > build_mean * (1.0 + drift_tol)
    )
    return {
        "n_appended": stats["n"],
        "mean_resid_norm": stats["mean_resid_norm"],
        "build_mean_resid_norm": build_mean,
        "needs_requantization": bool(drift),
    }


def ivfpq_maintain(
    corpus: DataFrame,
    path: str,
    drift_tol: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    assign_two_level: bool = False,
) -> dict:
    """The maintenance job :func:`ivfpq_append`'s ``needs_requantization``
    flag points to (r10 verdict task #6 — the flag existed, nothing acted
    on it): inspect the index's stats table, and if any append batch's
    mean residual norm exceeds the build anchor by ``drift_tol``
    (relative), RETRAIN the coarse quantizer over the CURRENT corpus
    (k-means|| by default — the lowest-id sampler would re-pick the same
    stale vectors) and rebuild the index in place.

    Idempotent by the same discipline as the writes it wraps: the rebuild
    statically overwrites codes/centroids/codebooks AND the stats table
    (one fresh ``build`` row, no append rows), so a second run sees no
    drifted batches and no-ops — double-run safe, and a crash mid-rebuild
    is repaired by re-running (every write is an overwrite).  A stale
    :func:`ivfpq_ensure_index` fingerprint at the same path is removed so
    fingerprint-gated callers rebuild their view too.

    ``corpus`` must be the FULL current corpus (build + appended rows) —
    the index stores only codes, so requantization needs the raw vectors
    back, exactly like a production ANN rebuild.  Geometry (nlist, m, ks)
    is read from the existing index; ``centroids``/``codebooks`` inject
    production quantizers.

    Returns {rebuilt, drifted_batches, build_mean_resid_norm,
    new_mean_resid_norm} (the last is None when not rebuilt).
    """
    spark = corpus.sparkSession
    stats = spark.read.parquet(f"{path}/stats").collect()
    anchor = max(
        (r for r in stats if r["kind"] == "build"),
        key=lambda r: r["batch_id"],
        default=None,
    )
    if anchor is None or anchor["mean_resid_norm"] <= 0:
        raise ValueError(f"{path}/stats has no usable build anchor row")
    drifted = sorted(
        int(r["batch_id"])
        for r in stats
        if r["kind"] == "append"
        and r["n"] > 0
        and r["mean_resid_norm"]
        > float(anchor["mean_resid_norm"]) * (1.0 + drift_tol)
    )
    out = {
        "rebuilt": False,
        "drifted_batches": drifted,
        "build_mean_resid_norm": float(anchor["mean_resid_norm"]),
        "new_mean_resid_norm": None,
    }
    if not drifted:
        return out
    old_cents, old_books = _read_ivfpq_quantizers(spark, path)
    nlist = len(old_cents)
    m = len(old_books)
    ks = len(old_books[0])
    dims = sum(len(cb[0]) for cb in old_books)
    cents = centroids if centroids is not None else (
        kmeans_parallel_centroids(
            corpus, nlist, id_col=id_col, vec_col=vec_col
        )
    )
    ivfpq_build_index(
        corpus, path, nlist=nlist, m=m, ks=ks, dims=dims,
        id_col=id_col, vec_col=vec_col, centroids=cents,
        codebooks=codebooks, assign_two_level=assign_two_level,
    )
    # invalidate any fingerprint gate at this path: the corpus the
    # fingerprint described no longer matches the rebuilt quantizer
    jvm = spark._jvm
    fp_path = jvm.org.apache.hadoop.fs.Path(f"{path}/fingerprint")
    fs = fp_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(fp_path):
        fs.delete(fp_path, True)
    new_anchor = (
        spark.read.parquet(f"{path}/stats")
        .where(F.col("kind") == "build")
        .collect()[0]
    )
    out["rebuilt"] = True
    out["new_mean_resid_norm"] = float(new_anchor["mean_resid_norm"])
    return out


def ivfpq_ensure_index(
    emb: DataFrame,
    path: str,
    fingerprint: str,
    **build_kw,
) -> bool:
    """Build the IVFADC index at ``path`` unless it already carries
    ``fingerprint`` — the amortization seam between "the registered query
    must not depend on scratch state surviving between runs" and "the
    registered query must not re-encode the corpus per call" (r10 verdict
    task #1: the rebuild-per-call shape was the slowest bench row by 3x,
    measuring the build instead of the serving path the index exists for).

    ``fingerprint`` is a caller-cheap corpus descriptor (source path +
    row count + max id + quantizer params): the first call over a given
    corpus builds, every later call serves, and ANY corpus or parameter
    change misses the fingerprint and rebuilds — state-independence is
    preserved because a fresh environment simply takes the build branch.

    The fingerprint is persisted as a tiny parquet table (works on any
    Hadoop-visible filesystem, unlike a driver-local marker file) and is
    written LAST, after codes/centroids/codebooks/stats all landed — an
    interrupted build leaves no fingerprint and is retried whole, never
    served half-written.

    Returns True when the index was (re)built, False on a fingerprint hit.
    """
    spark = emb.sparkSession
    # Hadoop-FS existence probe (not a speculative read): a first run or
    # interrupted build has no fingerprint table, and letting the parquet
    # reader discover that logs a FileNotFoundException stack per call
    jvm = spark._jvm
    fp_path = jvm.org.apache.hadoop.fs.Path(f"{path}/fingerprint")
    fs = fp_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(fp_path):
        try:
            rows = spark.read.parquet(f"{path}/fingerprint").collect()
            if rows and rows[0]["fp"] == fingerprint:
                return False
        except Exception:
            # unreadable/foreign fingerprint table -> rebuild below
            pass
    ivfpq_build_index(emb, path, **build_kw)
    local_frame(spark, [(fingerprint,)], "fp string").write.mode(
        "overwrite"
    ).parquet(f"{path}/fingerprint")
    return True


def ivfpq_query_index(
    queries: DataFrame,
    path: str,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC top-k against a persisted index
    (:func:`ivfpq_build_index`): query vectors come from ``queries`` (a
    raw embedding table — the codes table holds no raw vectors, exactly
    like a production IVFADC index); probes + ADC LUTs are built
    driver-side (``queries x nprobe x m x ks`` doubles, always
    broadcastable) and the equi-join on the ``cell`` PARTITION column
    dynamically prunes unprobed code directories.  Matches
    :func:`ivfpq_topk` exactly for the same quantizer, codebooks and
    (k, nprobe) — pytest-pinned.
    """
    spark = queries.sparkSession
    cents, codebooks = _read_ivfpq_quantizers(spark, path)
    m = len(codebooks)
    dims = sum(len(cb[0]) for cb in codebooks)
    qrows = (
        queries.where(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    by_cell_d = _ivfpq_probe_luts(
        qrows, cents, codebooks, int(nprobe), m, dims
    )
    # the probed cells are known driver-side, so prune STATICALLY: the
    # IN-list lands in the scan's PartitionFilters and unprobed cell
    # directories are never even listed — stronger than the dynamic
    # pruning ivf_query_index relies on (whose probe side is itself a
    # distributed derivation; here the LUT table is local data the DPP
    # planner has no stats for)
    probed = sorted({cell for _, cell, _ in by_cell_d})
    codes = (
        spark.read.parquet(f"{path}/codes")
        .where(F.col("cell").isin(probed))
        .drop(APPEND_BATCH_COL)
    )
    return _ivfpq_adc_topk(codes, by_cell_d, int(k), m, id_col=id_col)
