"""Distributed keyword relevance search (BM25 / TF-IDF).

Lexical top-k retrieval over a document corpus as pure built-in column
expressions — the retrieval half of a dedup/decontamination/RAG
pipeline next to ``operators/similarity.py``'s dense ANN.

Plan shape (scale rationale):

- **Tokenize + per-term TF**: map-only, whole-stage codegen, no
  shuffle. Query terms are a tiny Python-side list, so TF per term is
  a fixed set of columns — no explode, no posting-list shuffle of the
  corpus (an inverted-index join only pays off for large query *sets*;
  ``operators/dedup.ngram_jaccard_pairs`` has that shape).
- **Corpus stats** (N, total length, per-term DF): one aggregate with
  map-side partial combine → a single tiny row, re-joined via
  broadcast. Nothing is collected to the driver.
- **Top-k**: ``orderBy().limit(k)`` → Spark's TakeOrderedAndProject
  (per-partition heap + driver merge of k rows), never a full sort.

Determinism across engines: TF/DF/doc-length are integers, ``avgdl``
is an integer ratio, the per-doc score is a fixed-order sum over query
terms (never a row-order-dependent double aggregation), and ordering
uses the rounded score with a doc-id tie-break.

Beyond the reference's surface; part of the LLM-data-pipeline
operator set.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sidemantic_spark.operators import gate

# Tokenizer shared with the SQL oracles: lowercase, split on
# non-alphanumeric runs, drop empties. Constructs restricted to what
# both Java regex (Spark) and DuckDB's regex support.
_TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize(text: Column) -> Column:
    """Lowercased alphanumeric tokens as an array column."""
    return F.filter(
        F.split(F.lower(text), _TOKEN_SPLIT), lambda x: x != F.lit("")
    )


def query_terms(query: str) -> list[str]:
    """Unique query tokens, insertion-ordered (driver-side, tiny)."""
    seen: dict[str, None] = {}
    for tok in re.split(_TOKEN_SPLIT, query.lower()):
        if tok:
            seen.setdefault(tok, None)
    return list(seen)


def _term_tf(terms_col: Column, term: str) -> Column:
    return F.size(F.filter(terms_col, lambda x: x == F.lit(term)))


def _maybe_checkpoint_tokens(base: DataFrame, df: DataFrame, text_col: str) -> DataFrame:
    """Small corpora: materialize the tokenized frame once with a lazy
    localCheckpoint so the corpus-stats aggregate and the scoring probe
    share ONE tokenize pass (the interpreted higher-order-function
    tokenizer is the scan's hottest expression, and the two subtrees
    cannot share work — expression IDs defeat reuse). Above the
    small-corpus gate the two-pass lazy DAG is the only 100 TB-safe
    shape; the row-limited probe never scans a large corpus."""
    if gate.probe(df, (text_col,), limit=gate.SMALL_ROWS).small:
        return base.localCheckpoint(eager=False)
    return base


def build_term_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materializable corpus statistics for repeated BM25 queries.

    One shuffle keyed on term (map-side combined, output bounded by
    vocabulary size, not corpus size) plus one tiny corpus-summary row
    (``term IS NULL``: N in ``df_count``, total length in ``dl_total``).
    Persist with ``.write.partitionBy()``/``saveAsTable`` and pass as
    ``stats=`` to :func:`bm25_topk` — the per-query stats scan then
    prunes to the query's terms (predicate pushdown on ``term``) and
    the corpus pass drops from every query to a one-time build, the
    pre-aggregation philosophy applied to lexical search.

    Refresh contract: the stats are a SNAPSHOT of ``df`` — appending or
    deleting documents makes a materialized index stale (it mis-states
    N, df and avg doc length, shifting every score), so rebuild (or
    incrementally merge: ``df_count``/``dl_total`` are additive under
    union-with-re-aggregation) whenever the corpus changes.
    ``tests/test_operators.py::test_bm25_index_refresh_contract`` pins
    rebuilt-index == inline parity after an append.
    """
    toks = df.select(tokenize(F.col(text_col)).alias("_toks"))
    per_term = (
        toks.select(F.explode(F.array_distinct("_toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .withColumn("dl_total", F.lit(None).cast("long"))
    )
    summary = toks.agg(
        F.count(F.lit(1)).alias("df_count"),  # N
        F.sum(F.size("_toks")).alias("dl_total"),
    ).select(F.lit(None).cast("string").alias("term"), "df_count", "dl_total")
    return per_term.unionByName(summary)


def bm25_topk(
    df: DataFrame,
    query: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for ``query`` under Okapi BM25.

    Uses the Lucene-style non-negative IDF
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``. Returns
    ``(id_col, score)`` with the score rounded to 6 decimals (the
    rounded value is also the sort key, so rank order is reproducible
    across engines).
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("BM25 query has no tokens after normalization")

    base = df.select(
        F.col(id_col),
        tokenize(F.col(text_col)).alias("_toks"),
    ).withColumn("_dl", F.size("_toks"))
    if stats is None:
        # inline path reads `base` twice (stats aggregate + scoring
        # probe): one tokenize pass instead of two when the corpus is
        # small enough to checkpoint. The materialized path reads it
        # once — checkpointing there would only add cost.
        base = _maybe_checkpoint_tokens(base, df, text_col)

    if stats is not None:
        # materialized path: prune the stats table to the query terms
        # (pushdown-able IN on the term column) + the summary row, and
        # pivot the handful of rows into the same one-row shape the
        # inline aggregate produces. Missing terms -> df 0.
        pruned = stats.where(
            F.col("term").isin(list(terms)) | F.col("term").isNull()
        )
        stats_row = pruned.agg(
            F.max(F.when(F.col("term").isNull(), F.col("df_count"))).alias("_n"),
            F.max(F.when(F.col("term").isNull(), F.col("dl_total"))).alias("_dl_total"),
            *[
                F.coalesce(
                    F.max(F.when(F.col("term") == t, F.col("df_count"))),
                    F.lit(0),
                ).alias(f"_df_{i}")
                for i, t in enumerate(terms)
            ],
        )
    else:
        stats_row = base.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_dl").alias("_dl_total"),
            *[
                F.sum(F.array_contains("_toks", t).cast("long")).alias(f"_df_{i}")
                for i, t in enumerate(terms)
            ],
        )

    scored = base.crossJoin(F.broadcast(stats_row))
    avgdl = F.col("_dl_total").cast("double") / F.col("_n").cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / avgdl)

    score = F.lit(0.0)
    for i, t in enumerate(terms):
        tf = _term_tf(F.col("_toks"), t).cast("double")
        dfreq = F.col(f"_df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        score = score + idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)

    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def tfidf_topk(
    df: DataFrame,
    query: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Top-k under plain lnTF-IDF (``(1 + ln tf) * ln(N / df)``).

    Same plan shape as :func:`bm25_topk`; kept as the no-tuning
    baseline scorer.
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("TF-IDF query has no tokens after normalization")

    base = df.select(
        F.col(id_col),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    # same double-read shape as bm25_topk's inline path: one tokenize
    # pass for small corpora
    base = _maybe_checkpoint_tokens(base, df, text_col)
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.array_contains("_toks", t).cast("long")).alias(f"_df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    score = F.lit(0.0)
    for i, t in enumerate(terms):
        tf = _term_tf(F.col("_toks"), t).cast("double")
        dfreq = F.col(f"_df_{i}")
        contrib = (
            (F.lit(1.0) + F.log(tf))
            * F.log(F.col("_n").cast("double") / dfreq.cast("double"))
        )
        score = score + F.when((tf > 0) & (dfreq > 0), contrib).otherwise(F.lit(0.0))

    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )
