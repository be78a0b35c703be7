"""Document chunking for training-data pipelines (BASELINE north star).

Long documents must be split into token-bounded windows before packing /
tokenization: chunk i covers words [i*stride, i*stride + max_words), so
consecutive chunks overlap by (max_words - stride) words — the standard
sliding-window shape for long-context training sets.  Pure DataFrame
expressions (materialized word array → sequence → slice → posexplode); the
explode is partition-local, so chunking runs at scan throughput with ZERO
shuffles at any corpus size — the 100 TB cost is the rewrite itself.

Tokens here are whitespace words (consistent with text.n_words); a
precomputed token array column chunks the same way — same plan shape.

Reference has no analog (its rows are products, not documents); this is a
net-new LLM-pipeline operator, DuckDB-oracle-checked (list slicing and
generate_series express the same windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_words: int = 100,
    stride: int | None = None,
) -> DataFrame:
    """(id, chunk_id, chunk_text, chunk_words) — one row per sliding
    window.  `stride` defaults to `max_words` (no overlap; chunks
    partition the document exactly).  Empty/whitespace-only documents
    produce no chunks.  Deterministic: chunk ids and boundaries are pure
    word-arithmetic, identical across retries and partitionings.
    """
    if stride is None:
        stride = max_words
    if not (0 < stride <= max_words):
        raise ValueError(f"stride must be in (0, max_words]; got {stride}")

    # materialize the word array BEFORE referencing it in lambdas (the
    # O(W²) re-evaluation trap, see llm/dedup.shingles_from_words)
    with_words = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"[ \t\n\r\f]+").alias("__w")
    )
    n = F.size("__w")
    # number of windows: 1 + ceil((n - max_words) / stride) for n > max
    n_chunks = F.when(n <= max_words, F.lit(1)).otherwise(
        (F.ceil((n - F.lit(max_words)) / F.lit(stride))).cast("int") + F.lit(1)
    )
    w = F.col("__w")
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(w, i * stride + 1, max_words)).alias("t"),
            F.least(F.lit(max_words), F.size(w) - i * stride).alias("c"),
        ),
    )
    return (
        with_words.select(F.col(id_col), F.posexplode(windows).alias("chunk_id", "__ch"))
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.col("__ch.t").alias("chunk_text"),
            F.col("__ch.c").cast("bigint").alias("chunk_words"),
        )
    )
