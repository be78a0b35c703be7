"""Inverted text index over the document corpus — token postings as a
CDC-MAINTAINED table in the versioned store, plus the keyword-search
operator that serves from it.

Why an LLM-data pipeline wants one: keyword decontamination lookups
("which documents mention this benchmark id?"), targeted curation
("pull every doc containing these slurs/PII markers for review"), and
ad-hoc corpus forensics all need token → documents in sub-scan time;
at 100 TB a regexp scan per question is a day of I/O, a bucketed
postings table is a semi-join.

Net-new relative to the reference (its text surface is T-SQL LIKE
pushdown, src/EcomSourceReader.cs:151-226 — the same find-rows-fast
idea, served here from a maintained index instead of a table scan).

Scale shape:
- `token_postings` is ROW-LOCAL: tokenize + in-array term-frequency +
  one explode, all at the scan — no shuffle, no join; corpus-sized only
  at the initial seed.
- `maintain_text_index` rides materialize.maintain_rowwise_view's
  general variable-fan-out path: a refresh re-tokenizes ONLY changed
  documents (CDC), retracts postings of deleted docs AND postings an
  edit no longer produces (the anti-join against the new fan-out), one
  merge-on-read commit per refresh — O(changed docs), never O(corpus).
- `search_postings` filters the postings on the probed tokens (file
  skipping prunes on the leading `token` stats when the index was
  compacted sorted on token) and aggregates per doc — O(matching
  postings), not O(corpus).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# lowercase alphanumeric word tokens: reproducible in any engine
# (DuckDB oracle: string_split_regex(lower(text), '[^a-z0-9]+'))
TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens(text_col, min_len: int):
    toks = F.split(F.lower(text_col), TOKEN_SPLIT)
    return F.filter(
        toks, lambda x: (F.length(x) >= min_len)
    )


def token_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 2,
) -> DataFrame:
    """(token, doc_id, tf) postings — one row per DISTINCT token per
    document, with its in-document term frequency.  Entirely row-local
    (tokenize → array_distinct → in-array count → one explode), so the
    plan is scan + project + generate with ZERO shuffles — and it
    satisfies maintain_rowwise_view's build contract, which is what
    makes the index maintainable from CDC."""
    toks = _tokens(F.col(text_col), min_len)
    # no spread_scan here: spreading the scan was measured and
    # reverted — the builder feeds both corpus seeds and tiny CDC
    # deltas through this function, and the added Exchange cost the
    # maintenance lifecycles more than the seed gained (within-session
    # A/B: llm_text_search_ranked 6.96 s → 8.03 s with spread)
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .withColumn("token", F.explode(F.array_distinct("__toks")))
        .select(
            "token",
            "doc_id",
            F.size(
                F.filter("__toks", lambda x: x == F.col("token"))
            ).cast("int").alias("tf"),
        )
    )


def search_postings(
    postings: DataFrame,
    terms: Sequence[str],
    mode: str = "any",
) -> DataFrame:
    """Documents matching `terms` against a postings table: (doc_id,
    matched, total_tf) ranked-ready — `matched` distinct terms hit,
    `total_tf` their summed frequency.  ``mode="all"`` keeps only docs
    containing EVERY term.  One filter on the probed tokens + one
    per-doc aggregate: O(matching postings)."""
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    terms = [t.lower() for t in terms]
    hits = postings.filter(F.col("token").isin(terms)).groupBy("doc_id").agg(
        F.countDistinct("token").cast("int").alias("matched"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    if mode == "all":
        hits = hits.filter(F.col("matched") == len(terms))
    return hits


def doc_lengths(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 2,
) -> DataFrame:
    """(doc_id, dl) — total token count per document (the BM25 length
    normalizer).  Row-local (tokenize + size at the scan, zero shuffles),
    so it satisfies maintain_rowwise_view's build contract with a stable
    1:1 key."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_tokens(F.col(text_col), min_len)).cast("int").alias("dl"),
    )


def maintain_doc_lengths(
    spark: SparkSession,
    root: str,
    src: str = "documents",
    dst: str = "doc_lengths",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 2,
) -> dict:
    """Maintain `dst` as the CDC-driven (doc_id, dl) table of corpus
    `src` — the per-doc half of the BM25 statistics, kept beside the
    postings by the same maintain-from-CDC pattern (stable 1:1 keys, so
    a refresh is a pure O(changed docs) MoR upsert/delete)."""
    from dataintegration_ecomprovider_spark.plans import materialize

    def _build(rows: DataFrame) -> DataFrame:
        return doc_lengths(
            rows, id_col=id_col, text_col=text_col, min_len=min_len
        )

    return materialize.maintain_rowwise_view(
        spark, root, src, dst, _build,
        dst_keys=["doc_id"], src_key=id_col, src_key_out="doc_id",
        stable_keys=True, state_key=f"doc-lengths:{dst}",
    )


def maintain_term_df(
    spark: SparkSession,
    root: str,
    postings: str = "token_postings",
    dst: str = "term_df",
) -> dict:
    """Maintain `dst` as the per-term DOCUMENT FREQUENCY aggregate of the
    maintained postings table — a chained incremental view (documents →
    token_postings → term_df): each refresh consumes the POSTINGS
    table's own CDC feed, and COUNT is self-maintainable, so the cost is
    O(changed postings) with no recompute path.  Output: (token, cnt)
    where cnt = number of documents containing the token (postings are
    distinct per (token, doc))."""
    from dataintegration_ecomprovider_spark.plans import materialize

    return materialize.maintain_aggregate(
        spark, root, src=postings, dst=dst,
        group_cols=["token"], keys=["token", "doc_id"],
    )


def bm25_scores(
    postings: DataFrame,
    lengths: DataFrame,
    term_df: DataFrame,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 scores of every document matching any of `terms`, served
    entirely from the three maintained tables: (doc_id, matched, score).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  — the Robertson/Sparck
    Jones formulation with Lucene's +1 floor (never negative).

    Scale shape: the postings filter touches O(matching postings) (file
    skipping prunes on leading `token` stats when the index is compacted
    sorted); df arrives from the ≤|terms|-row slice of term_df and the
    corpus constants (N, avgdl) from one tiny aggregate over the lengths
    table — both broadcast; the only shuffle is the final per-doc sum.
    `score` is rounded to 6 places for cross-engine comparability."""
    terms = [t.lower() for t in terms]
    # corpus constants: one aggregate over the (doc_id, dl) table,
    # broadcast to every posting row
    stats = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg(F.col("dl").cast("double")).alias("__avgdl"),
    )
    dfs = term_df.filter(F.col("token").isin(terms)).select(
        "token", F.col("cnt").cast("double").alias("__df")
    )
    hits = (
        postings.filter(F.col("token").isin(terms))
        .join(F.broadcast(dfs), "token")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__avgdl")
    )
    contrib = idf * tf * F.lit(k1 + 1.0) / norm
    return (
        hits.withColumn("__s", contrib)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("token").cast("int").alias("matched"),
            F.round(F.sum("__s"), 6).alias("score"),
        )
    )


def bm25_topk(
    postings: DataFrame,
    lengths: DataFrame,
    term_df: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 ranked search — orderBy+limit plans as a distributed
    TakeOrderedAndProject (per-partition heaps, no global sort), ties
    broken by doc_id for determinism."""
    scores = bm25_scores(postings, lengths, term_df, terms, k1=k1, b=b)
    return scores.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def maintain_text_index(
    spark: SparkSession,
    root: str,
    src: str = "documents",
    dst: str = "token_postings",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 2,
) -> dict:
    """Maintain `dst` as the CDC-driven inverted index of the corpus
    table `src`: deletes retract every posting of the vanished document,
    edits re-tokenize just the changed documents AND retract postings
    the new text no longer produces (variable fan-out — exactly the case
    a bare upsert strands rows in), inserts index O(batch).  The
    maintained table always equals token_postings() over the current
    corpus (oracle-gated by llm_text_index_cdc).  Declarable as
    ``materialize.declare_view(root, "postings", src=..., dst=...)`` so
    maintain_store and streaming ingest refresh it with the rest of the
    view DAG.

    Returns {"dst", "from_version", "to_version", "mode"}."""
    from dataintegration_ecomprovider_spark.plans import materialize

    def _build(rows: DataFrame) -> DataFrame:
        return token_postings(
            rows, id_col=id_col, text_col=text_col, min_len=min_len
        )

    return materialize.maintain_rowwise_view(
        spark, root, src, dst, _build,
        dst_keys=["token", "doc_id"], src_key=id_col, src_key_out="doc_id",
        stable_keys=False, state_key=f"text-index:{dst}",
    )
