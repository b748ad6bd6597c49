"""Corpus retrieval: BM25 keyword search over the documents table.

A training-data pipeline needs retrieval for corpus exploration, targeted
decontamination ("find everything that looks like this eval prompt"), and
curation audits — the same ranked keyword search an index server provides,
expressed as one Spark plan instead of a sidecar search cluster.  (The
reference exposes no text retrieval; its closest surface is the catalog
probes, catalog.py.)

Scale shape: the corpus-side work is ONE explode filtered to the query's
terms BEFORE the shuffle (selectivity |terms| / vocab), one
map-side-combinable (doc, term) count, and a broadcast join against the
<= |terms|-row term-statistics table.  Nothing corpus-scale is sorted:
the top-k is a TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .text import token_count_expr, tokens_expr


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query under BM25 (the
    Lucene/Robertson formulation): per matched term,

        idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
        tfn(t)  = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    and ``score = sum_t idf * tfn`` over the query's terms, rounded to 4
    (the rounding also absorbs engine-order differences in the per-doc
    float sum — the established oracle-parity argument).  Ranking and the
    k-boundary use the ROUNDED score with ``id_col`` as the
    deterministic tie-break, so the returned set is engine-stable.

    Collected driver-side: exactly two scalars (N, avgdl) from one
    map-side-combinable aggregate — bounded at any corpus size.

    Output: (doc_id, n_terms_matched, score), rank-ordered.
    """
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    terms = sorted(set(terms))

    # avgdl as exact-integer-sum / count (not avg()) so the oracle's
    # CAST(sum AS DOUBLE) / count reproduces the identical double
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(token_count_expr(text_col)).alias("s"),
    ).collect()[0]
    n_docs = int(row["n"])
    avgdl = float(row["s"] or 0) / float(n_docs or 1)

    tf = (
        docs.select(
            id_col,
            token_count_expr(text_col).alias("_dl"),
            F.explode(tokens_expr(text_col)).alias("_t"),
        )
        .where(F.col("_t").isin(terms))
        .groupBy(id_col, "_dl", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    df_stats = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
        + 1.0
    )
    tfn = (F.col("_tf") * (float(k1) + 1.0)) / (
        F.col("_tf")
        + float(k1)
        * (1.0 - float(b) + float(b) * F.col("_dl") / F.lit(avgdl))
    )
    return (
        tf.join(F.broadcast(df_stats), "_t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.round(F.sum(idf * tfn), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(int(k))
    )


def ranked(df: DataFrame, order_cols: list, id_col: str = "doc_id") -> DataFrame:
    """Attach a 1-based ``rank`` to an already TOP-K-BOUNDED candidate
    list (the output of a ``bm25_topk`` / ``brute_force_topk`` style
    TakeOrderedAndProject).  The single-partition window is deliberate
    and safe ONLY because the input is k rows by construction — never
    rank a corpus-scale frame with this."""
    from pyspark.sql import Window

    return df.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order_cols))
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    topk: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): fuse ranked
    candidate lists by ``score(d) = sum_lists 1 / (k + rank_d)`` — the
    standard way to combine keyword (BM25) and vector (cosine) retrieval
    without score calibration, since only RANKS enter the sum.

    Each input carries (``id_col``, ``rank``); all lists are top-k
    bounded by construction, so the union + groupBy runs over
    ``lists x k`` rows — constant-scale however large the corpus the
    lists came from.  With TWO lists the fused score is engine-exact
    unrounded (IEEE addition is commutative and a 2-term sum never
    exercises associativity); for 3+ lists pin the score with a round()
    before comparing across engines.

    Output: (id_col, n_lists, rrf_score), best first, id tie-break.
    """
    u = rankings[0].select(id_col, "rank")
    for r in rankings[1:]:
        u = u.unionByName(r.select(id_col, "rank"))
    out = (
        u.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))).alias(
                "rrf_score"
            ),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col))
    )
    return out.limit(int(topk)) if topk is not None else out


def phrase_hits(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring audit: which documents contain ``phrase``
    verbatim, how many (non-overlapping) times, and where it first
    occurs — the manual spot-check run after decontamination flags a
    benchmark string ("show me exactly where this answer appears"), and
    the simplest leak probe when a single canary string matters.

    Zero-shuffle scan: the count is a length difference over
    ``replace`` (codegen string ops — no regex, so the phrase needs no
    escaping and a ``.*`` in an eval answer can't explode the matcher),
    the first position is one ``locate``.  Only matching docs return,
    so the result is hit-proportional however large the corpus.

    Output: (id_col, n_hits, first_pos) — ``first_pos`` 1-based.
    """
    if not phrase:
        raise ValueError("phrase_hits requires a non-empty phrase")
    L = len(phrase)
    removed = F.replace(F.col(text_col), F.lit(phrase), F.lit(""))
    n = F.expr(
        f"(length(`{text_col}`) - length(_removed)) div {L}"
    ).cast("long")
    return (
        docs.withColumn("_removed", removed)
        .withColumn("n_hits", n)
        .where(F.col("n_hits") > 0)
        .select(
            id_col,
            "n_hits",
            F.locate(phrase, F.col(text_col)).cast("long").alias("first_pos"),
        )
    )


def phrase_hits_many(
    docs: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch exact-substring audit: every (document, phrase) hit for a
    SET of canary strings — auditing a whole benchmark's answer key in
    one corpus pass instead of one scan per phrase.

    The phrase set rides as a broadcast literal table into one
    cross-then-filter (Catalyst plans broadcast nested loop with the
    |phrases|-row side in memory); per pair the work is the same
    regex-free replace/locate arithmetic as :func:`phrase_hits`.  Honest
    cost: docs x |phrases| contains-checks — right for canary sets up
    to a few thousand strings; for benchmark-SCALE decontamination use
    the n-gram machinery (``contamination``/``doc_despan``), which
    shares corpus work across phrases instead of re-scanning.

    Output: (id_col, phrase, n_hits, first_pos), hits only.
    """
    cleaned = [p for p in phrases if p]
    if not cleaned:
        raise ValueError("phrase_hits_many requires non-empty phrases")
    spark = docs.sparkSession
    pdf = local_frame(
        spark, [(p,) for p in sorted(set(cleaned))], "phrase string"
    )
    text = F.col(text_col)
    removed = F.replace(text, F.col("phrase"), F.lit(""))
    n = (
        (F.length(text) - F.length(removed))
        / F.length("phrase")
    ).cast("long")
    return (
        docs.select(id_col, text_col)
        .join(F.broadcast(pdf), F.contains(text, F.col("phrase")))
        .select(
            id_col,
            "phrase",
            n.alias("n_hits"),
            F.expr(f"locate(phrase, `{text_col}`)")
            .cast("long")
            .alias("first_pos"),
        )
    )
