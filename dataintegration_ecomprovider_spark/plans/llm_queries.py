"""LLM-training-data pipeline queries (BASELINE north star): dedup,
similarity search, text analysis, multimodal plumbing — over the
`documents` and `embeddings` fixture tables.

Oracle-checked where the computation is exactly expressible in DuckDB SQL.
The hash-dependent operators (minhash/simhash/LSH/IVF) each appear twice:
the xxhash64 fast path (rows-only + pytest invariants, tests/test_llm.py)
and a `_portable` variant on the md5-derived hash family (llm/portable.py)
with a full DuckDB oracle — the same plan, provable against a second
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.llm import dedup, similarity, text as text_ops
from dataintegration_ecomprovider_spark.llm.multimodal import attach_binary_payload, extract_features
from dataintegration_ecomprovider_spark.llm.portable import md5_int60_sql
from dataintegration_ecomprovider_spark.plans.registry import QueryDef


from dataintegration_ecomprovider_spark.plans.scratch import (
    scratch_store_root as _scratch_store_root,
)


# --- sliding-window document chunking -------------------------------------
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (llm/chunking.py): 40-word windows, stride
    30 (10-word overlap) — zero-shuffle scan-side rewrite."""
    from dataintegration_ecomprovider_spark.llm.chunking import chunk_documents

    docs = Catalog(spark, sf_dir).table("documents")
    return chunk_documents(docs, max_words=40, stride=30)


ORACLE_CHUNK_DOCUMENTS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE length(trim(text)) > 0
),
c AS (
  SELECT doc_id, words, len(words) AS n,
         CASE WHEN len(words) <= 40 THEN 1
              ELSE CAST(ceil((len(words) - 40) / 30.0) AS INT) + 1 END AS n_chunks
  FROM w
)
SELECT c.doc_id,
       CAST(i AS INT) AS chunk_id,
       array_to_string(words[i*30 + 1 : i*30 + 40], ' ') AS chunk_text,
       CAST(LEAST(40, n - i*30) AS BIGINT) AS chunk_words
FROM c, UNNEST(range(n_chunks)) AS t(i)
"""


# --- exact dedup ----------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return dedup.exact_dedup_groups(docs)


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents GROUP BY md5(text)
"""


# --- minhash LSH near-dup candidates (rows-only: xxhash64 engine hash) ----
def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    pairs = dedup.minhash_candidates(docs, num_hashes=32, bands=8)
    return dedup.jaccard_pairs(docs, pairs).filter(F.col("jaccard") >= 0.5)


# --- simhash fingerprints (rows-only: xxhash64 engine hash) ---------------
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return dedup.simhash_signatures(docs)


# --- exact n-gram jaccard on a deterministic candidate set ----------------
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard over word-3-gram shingle sets for a deterministic pair set
    (consecutive doc ids) — fully oracle-checkable in DuckDB with list
    functions."""
    docs = Catalog(spark, sf_dir).table("documents")
    pairs = docs.select(F.col("doc_id").alias("id_a")).withColumn("id_b", F.col("id_a") + 1)
    pairs = pairs.join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return dedup.jaccard_pairs(docs, pairs)


ORACLE_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
            range(1, GREATEST(len(string_split_regex(trim(lower(text)), '\\s+')) - 2, 0) + 1),
            i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+2], ' ')
         )) AS grams
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
             len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


# --- brute-force cosine top-k --------------------------------------------
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries, k=5)


ORACLE_COSINE_TOPK = """
WITH cand AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id, v FROM cand WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS similarity
  FROM q JOIN cand c ON q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, similarity, rank FROM ranked WHERE rank <= 5
"""


# --- LSH-bucketed ANN (rows-only: xxhash64-derived hyperplanes) -----------
def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries, k=5, planes=6)


# --- text quality features ------------------------------------------------
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    feats = text_ops.quality_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


ORACLE_TEXT_QUALITY = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS char_len,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS word_count,
       ROUND(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) /
             GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+')) END, 1), 6) AS avg_word_len,
       ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  w -> w IN ('the','a','and','of','to'))) AS DOUBLE) /
             GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+')) END, 1), 6) AS stopword_ratio
FROM documents
"""


# --- language ID ----------------------------------------------------------
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return docs.select("doc_id", "lang", text_ops.lang_guess(F.col("text")).alias("lang_guess"))


ORACLE_LANG_ID = """
SELECT doc_id, lang,
       CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 'en'
            WHEN ' ' || lower(text) || ' ' LIKE '% el %' THEN 'es'
            WHEN ' ' || lower(text) || ' ' LIKE '% le %' THEN 'fr'
            WHEN ' ' || lower(text) || ' ' LIKE '% der %' THEN 'de'
            ELSE 'und' END AS lang_guess
FROM documents
"""


# --- token counting per source -------------------------------------------
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document, word and token totals; tokens come from the
    bpe_token_count heuristic so the DuckDB oracle can verify the query
    end-to-end."""
    docs = Catalog(spark, sf_dir).table("documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count"),
        F.sum(text_ops.n_words(F.col("text"))).cast("bigint").alias("total_tokens"),
        F.sum(text_ops.bpe_token_count(F.col("text")))
        .cast("bigint").alias("total_bpe_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


ORACLE_TOKEN_COUNTS = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS total_tokens,
       CAST(SUM(len(regexp_extract_all(text,
            '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))) AS BIGINT)
         AS total_bpe_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY source
"""


# --- rolling-hash fingerprint --------------------------------------------
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return docs.select(
        "doc_id", text_ops.rolling_fingerprint(F.col("text")).alias("fingerprint")
    )


ORACLE_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, length(text) + 1),
                                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007
       ) AS fingerprint
FROM documents
"""


# --- multimodal plumbing --------------------------------------------------
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + Arrow-batched mapInPandas feature extraction
    (decode stubbed; plumbing real)."""
    docs = Catalog(spark, sf_dir).table("documents")
    media = attach_binary_payload(docs)
    return extract_features(media)


ORACLE_MULTIMODAL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE -1 END AS INTEGER) AS first_byte,
       'text/plain' AS media_type
FROM documents
"""


# --- embedding-cosine near-duplicate pairs --------------------------------
def q_near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs over a deterministic slice (every 5th vector) at
    cosine ≥ 0.2; the LSH-pruned full-table variant is
    llm_near_dup_embedding_lsh (rows-only)."""
    emb = Catalog(spark, sf_dir).table("embeddings").filter(F.col("vec_id") % 5 == 0)
    return similarity.near_dup_pairs(emb, threshold=0.2)


ORACLE_NEAR_DUP_EMBEDDING = """
WITH cand AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id % 5 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS similarity
FROM cand a JOIN cand b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.2
"""


def q_near_dup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # guide §2.5 spread (round-14 A/B 1.04 → 0.62 s): the bucket
    # self-join and pair filter are order-insensitive
    emb = runtime.spread_scan(Catalog(spark, sf_dir).table("embeddings"))
    return similarity.near_dup_pairs_lsh(emb, threshold=0.2, planes=6)


# --- 8-bit quantized ANN (memory-reduction path) --------------------------
def q_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k over 8-bit scalar-quantized vectors
    (llm/similarity.py::quantize — floor-based codes, so the oracle
    reproduces them exactly): ~8x smaller candidate bytes, recall pinned
    vs the exact top-k in tests/test_llm.py."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk_quantized(emb, queries, k=5)


# (ORACLE_TOPK_QUANTIZED is defined after _COS, below)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (round 9,
    llm/similarity.py::pq_topk — faiss PQ + refine): vectors unit-
    normalize, split into 4 sub-codebooks × 16 entries; the ADC pass
    shortlists 50 candidates per query from CODES ALONE (4 table lookups
    per candidate, ~85x smaller than the floats), then only the
    shortlist fetches vectors for the exact cosine top-5.  Codebooks are
    hash-rank sampled (portable md5 family) so the oracle unrolls the
    ENTIRE two-stage pipeline — sample → per-subspace encode → ADC →
    re-rank — in plain SQL with the identical sequential distance
    fold."""
    # guide §2.5: the single-file embeddings fixture scans as ONE task,
    # serializing the corpus-wide m·k encode crossJoin; round-14
    # interleaved A/B 1.42 → 0.91 s (all consumers order-insensitive:
    # hash-rank sample is totally ordered, argmin/window ties rounded
    # + deterministically broken)
    emb = runtime.spread_scan(Catalog(spark, sf_dir).table("embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_topk(
        emb, queries, k=5, m=4, codebook_size=16, portable=True, rerank=50
    )


ORACLE_PQ_TOPK = f"""
WITH raw AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rv
  FROM embeddings
),
cand AS (
  SELECT vec_id, rv,
         list_transform(rv, x -> x / sqrt(list_dot_product(rv, rv))) AS v
  FROM raw
),
sample AS (
  SELECT vec_id, v, CAST(ROW_NUMBER() OVER (
    ORDER BY {md5_int60_sql("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
  ) - 1 AS INTEGER) AS c
  FROM cand QUALIFY c < 16
),
codebook AS (
  SELECT CAST(t.j AS INTEGER) AS j, c, v[t.j*16+1 : t.j*16+16] AS cv
  FROM sample, UNNEST(range(0, 4)) AS t(j)
),
enc AS (
  SELECT a.vec_id, cb.j, cb.c,
         ROUND(list_sum(list_transform(range(1, 17),
           i -> (a.v[cb.j*16 + i] - cb.cv[i])
              * (a.v[cb.j*16 + i] - cb.cv[i]))), 6) AS d
  FROM cand a CROSS JOIN codebook cb
),
best AS (
  SELECT vec_id, j, c AS code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d ASC, c ASC) AS rn
  FROM enc
),
codes AS (
  SELECT vec_id, list(code ORDER BY j) AS codes
  FROM best WHERE rn = 1 GROUP BY vec_id
),
qtab AS (
  SELECT q.vec_id AS query_id, cb.j, cb.c,
         ROUND(list_sum(list_transform(range(1, 17),
           i -> (q.v[cb.j*16 + i] - cb.cv[i])
              * (q.v[cb.j*16 + i] - cb.cv[i]))), 6) AS w
  FROM cand q CROSS JOIN codebook cb WHERE q.vec_id < 10
),
qtables AS (
  SELECT query_id, list(w ORDER BY j, c) AS tbl FROM qtab GROUP BY query_id
),
scored AS (
  SELECT t.query_id, c2.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(0, 4),
           j -> t.tbl[j*16 + c2.codes[j+1] + 1])), 6) AS distance
  FROM codes c2 CROSS JOIN qtables t
  WHERE t.query_id <> c2.vec_id
),
rankedq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY distance ASC, neighbor_id ASC) AS adc_rank
  FROM scored
),
refined AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND(list_dot_product(q.rv, c.rv) /
               (sqrt(list_dot_product(q.rv, q.rv))
                * sqrt(list_dot_product(c.rv, c.rv))), 6) AS similarity
  FROM rankedq s
  JOIN cand q ON q.vec_id = s.query_id
  JOIN cand c ON c.vec_id = s.neighbor_id
  WHERE s.adc_rank <= 50
),
final AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM refined
)
SELECT query_id, neighbor_id, similarity, rank FROM final WHERE rank <= 5
"""


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF+PQ ANN (round 10, llm/similarity.py::ivfpq_index +
    ivfpq_topk — faiss IVFPQ, by_residual=false): the coarse quantizer
    probes 4 of 16 cells per query, the product quantizer (4 sub-
    codebooks x 16 entries, ONE per-subspace Lloyd training iteration)
    ADC-scores ONLY the probed cells' codes, a 50-candidate shortlist
    re-ranks exactly — the serve path is O(probed cells), not O(corpus
    codes) like flat PQ.  Everything is md5-family deterministic, so the
    oracle unrolls the FULL pipeline in SQL: codebook sample -> Lloyd
    iteration (means pinned to 9 decimals, empty entries keep their
    previous value) -> encode -> centroid pick -> cell assign -> probe
    -> ADC within probed cells -> exact re-rank."""
    # guide §2.5 spread (round-14 A/B 1.61 → 1.46 s serve + faster
    # training collects; same determinism argument as q_pq_topk)
    emb = runtime.spread_scan(Catalog(spark, sf_dir).table("embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    idx = similarity.ivfpq_index(
        emb, n_centroids=16, m=4, codebook_size=16, portable=True,
        pq_iters=1,
    )
    return similarity.ivfpq_topk(
        queries, idx["centroids"], idx["codebook"], idx["codes"],
        k=5, n_probe=4, rerank=50, embeddings=emb, index=idx,
    )


_PQ_L2 = (
    "ROUND(list_sum(list_transform(range(1, 17), "
    "i -> ({a}[{j}*16 + i] - {cb}[i]) * ({a}[{j}*16 + i] - {cb}[i]))), 6)"
)

# rounded-cosine SQL (same text as _COS below, which is defined later in
# the module — f-strings bind at definition time, so the IVFPQ oracle
# needs it HERE)
_COS_LLM = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)

ORACLE_IVFPQ_TOPK = f"""
WITH raw AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rv
  FROM embeddings
),
cand AS (
  SELECT vec_id, rv,
         list_transform(rv, x -> x / sqrt(list_dot_product(rv, rv))) AS v
  FROM raw
),
sample AS (
  SELECT vec_id, v, CAST(ROW_NUMBER() OVER (
    ORDER BY {md5_int60_sql("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
  ) - 1 AS INTEGER) AS c
  FROM cand QUALIFY c < 16
),
codebook0 AS (
  SELECT CAST(t.j AS INTEGER) AS j, c, v[t.j*16+1 : t.j*16+16] AS cv
  FROM sample, UNNEST(range(0, 4)) AS t(j)
),
tr_d AS (
  SELECT a.vec_id, cb.j, cb.c,
         {_PQ_L2.format(a="a.v", j="cb.j", cb="cb.cv")} AS d
  FROM cand a CROSS JOIN codebook0 cb
),
tr_r AS (
  SELECT vec_id, j, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d ASC, c ASC) AS rn
  FROM tr_d
),
tr_m AS (
  SELECT b.j, b.c, t.dim,
         ROUND(AVG(a.v[b.j*16 + t.dim + 1]), 9) AS mval
  FROM tr_r b JOIN cand a ON a.vec_id = b.vec_id,
       UNNEST(range(0, 16)) AS t(dim)
  WHERE b.rn = 1
  GROUP BY b.j, b.c, t.dim
),
tr_cv AS (
  SELECT j, c, list(mval ORDER BY dim ASC) AS cv FROM tr_m GROUP BY j, c
),
codebook AS (
  SELECT o.j, o.c, COALESCE(n.cv, o.cv) AS cv
  FROM codebook0 o LEFT JOIN tr_cv n ON n.j = o.j AND n.c = o.c
),
enc AS (
  SELECT a.vec_id, cb.j, cb.c,
         {_PQ_L2.format(a="a.v", j="cb.j", cb="cb.cv")} AS d
  FROM cand a CROSS JOIN codebook cb
),
best AS (
  SELECT vec_id, j, c AS code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d ASC, c ASC) AS rn
  FROM enc
),
codes AS (
  SELECT vec_id, list(code ORDER BY j) AS codes
  FROM best WHERE rn = 1 GROUP BY vec_id
),
cent AS (
  SELECT vec_id AS cid, rv AS cvec FROM raw
  ORDER BY {md5_int60_sql("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
  LIMIT 16
),
casg AS (
  SELECT a.vec_id, c.cid,
         {_COS_LLM.format(a="a.rv", b="c.cvec")} AS csim
  FROM raw a CROSS JOIN cent c
),
cells AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY csim DESC, cid ASC) AS rn
    FROM casg
  ) WHERE rn = 1
),
pasg AS (
  SELECT q.vec_id AS query_id, c.cid,
         {_COS_LLM.format(a="q.v", b="c.cvec")} AS csim
  FROM cand q CROSS JOIN cent c WHERE q.vec_id < 10
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY csim DESC, cid ASC) AS rn
    FROM pasg
  ) WHERE rn <= 4
),
qtab AS (
  SELECT q.vec_id AS query_id, cb.j, cb.c,
         {_PQ_L2.format(a="q.v", j="cb.j", cb="cb.cv")} AS w
  FROM cand q CROSS JOIN codebook cb WHERE q.vec_id < 10
),
qtables AS (
  SELECT query_id, list(w ORDER BY j, c) AS tbl FROM qtab GROUP BY query_id
),
scored AS (
  SELECT p.query_id, cl.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(0, 4),
           j -> t.tbl[j*16 + co.codes[j+1] + 1])), 6) AS distance
  FROM probes p
  JOIN cells cl ON cl.cid = p.cid
  JOIN codes co ON co.vec_id = cl.vec_id
  JOIN qtables t ON t.query_id = p.query_id
  WHERE p.query_id <> cl.vec_id
),
rankedq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY distance ASC, neighbor_id ASC) AS adc_rank
  FROM scored
),
refined AS (
  SELECT s.query_id, s.neighbor_id,
         {_COS_LLM.format(a="q.rv", b="c.rv")} AS similarity
  FROM rankedq s
  JOIN raw q ON q.vec_id = s.query_id
  JOIN raw c ON c.vec_id = s.neighbor_id
  WHERE s.adc_rank <= 50
),
final AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM refined
)
SELECT query_id, neighbor_id, similarity, rank FROM final WHERE rank <= 5
"""


# --- IVF-bucketed ANN (rows-only: recall invariant in tests/test_llm.py) --
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4)


# --- multimodal frame sampling (1:N fan-out via mapInPandas) --------------
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: payload chunked into 64-byte frames, every
    4th kept.  The byte arithmetic is oracle-checkable from n_chars (text
    payloads are UTF-8-encoded so frame boundaries derive from octet
    length)."""
    from dataintegration_ecomprovider_spark.llm.multimodal import frame_sample

    docs = Catalog(spark, sf_dir).table("documents")
    media = attach_binary_payload(docs)
    return frame_sample(media, frame_bytes=64, stride=4).select(
        "doc_id", "frame_index", "frame_len"
    )


ORACLE_MULTIMODAL_FRAMES = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents
           WHERE octet_length(encode(text)) > 0)
SELECT doc_id, CAST(fi AS INTEGER) AS frame_index,
       CAST(CASE WHEN (fi + 1) * 64 <= bl THEN 64 ELSE bl - fi * 64 END AS BIGINT) AS frame_len
FROM d, UNNEST(generate_series(0, CAST(CEIL(bl / 64.0) AS BIGINT) - 1, 4)) AS t(fi)
"""


# --- deterministic hash split (train/val/test) ----------------------------
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only deterministic split assignment (llm/sampling.py): membership
    is a pure function of md5(doc_id) — stable across re-runs, retries, and
    cluster sizes; no shuffle."""
    from dataintegration_ecomprovider_spark.llm import sampling

    docs = Catalog(spark, sf_dir).table("documents")
    return sampling.split_assign(docs).select("doc_id", "bucket", "split")


ORACLE_SPLIT_HASH = """
WITH d AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 6553 THEN 'val'
            WHEN bucket < 13107 THEN 'test'
            ELSE 'train' END AS split
FROM d
"""


# --- stratified per-language sample ---------------------------------------
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 docs per language, md5-ranked (llm/sampling.py): one
    shuffle on the stratum key, tie-free deterministic order."""
    from dataintegration_ecomprovider_spark.llm import sampling

    docs = Catalog(spark, sf_dir).table("documents")
    return sampling.stratified_topk(docs, "lang", k=50).select(
        "doc_id", "lang", "sample_rank"
    )


ORACLE_SAMPLE_STRATIFIED = """
WITH ranked AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= 50
"""


# --- corpus mix rebalance (equalize sources) ------------------------------
def q_rebalance_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every language to ≈ the smallest language's size via broadcast
    keep-fractions + map-side hash filter (llm/sampling.py) — the
    skew-immune alternative to per-stratum sorting at 100 TB."""
    from dataintegration_ecomprovider_spark.llm import sampling

    docs = Catalog(spark, sf_dir).table("documents")
    return sampling.rebalance_mix(docs, "lang").select("doc_id", "lang")


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for training export (llm/export.py::
    shard_assign — md5-bucket of the id, stable across runs/parallelism):
    per-shard doc and token counts for an 8-shard export of the corpus.
    The file-writing half (write_training_shards: one co-located file per
    shard + _SHARDS.json manifest) is pytest-gated; this query pins the
    assignment itself against the oracle."""
    from dataintegration_ecomprovider_spark.llm.export import shard_assign

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "n_chars")
    return (
        shard_assign(docs, 8)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


ORACLE_TRAINING_SHARDS = """
SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 8
         AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents GROUP BY 1
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing at alpha=0.5 (llm/sampling.py::
    temperature_mix): head languages downsample toward sqrt of their
    natural share, the tail keeps everything — deterministic md5-bucket
    survival, thresholds broadcast, corpus filtered map-side."""
    from dataintegration_ecomprovider_spark.llm.sampling import temperature_mix

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "lang")
    return temperature_mix(docs, "lang", alpha=0.5)


ORACLE_TEMPERATURE_MIX = """
WITH c AS (
  SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
),
p AS (SELECT lang, cnt, POW(cnt, -0.5) AS k FROM c),
m AS (SELECT MAX(k) AS mk FROM p),
d AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket
  FROM documents
)
SELECT d.doc_id, d.lang
FROM d JOIN p USING (lang) CROSS JOIN m
WHERE d.bucket < CAST(FLOOR(65536.0 * p.k / m.mk) AS INTEGER)
"""


ORACLE_REBALANCE_MIX = """
WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT MIN(cnt) AS mn FROM c),
d AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket
  FROM documents
)
SELECT d.doc_id, d.lang
FROM d JOIN c USING (lang) CROSS JOIN m
WHERE d.bucket < CAST(FLOOR(65536.0 * m.mn / c.cnt) AS INTEGER)
"""


# Weights are exact binary fractions (0.5 + 0.25 + 0.125 + 0.0625 + 0.0625
# = 1.0 with no rounding), so the Spark plan and the DuckDB oracle compute
# bit-identical rates and the floor()-derived epoch counts / fractional
# thresholds can't straddle an ulp.
_MIXTURE_WEIGHTS = {
    "en": 0.5, "de": 0.25, "fr": 0.125, "es": 0.0625, "zh": 0.0625,
}


def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture with UPSAMPLING EPOCHS (llm/sampling.py
    mixture_plan + apply_mixture): the Llama/Dolma recipe step — target
    weights per language over a 2×-corpus character budget, so every
    stratum's rate exceeds 1 and materializes as floor(rate) full passes
    (each copy tagged with a distinct `epoch`) plus a deterministic
    md5(id:epoch)-thresholded fractional sample.  temperature_mix can
    only downsample; this is the operator that repeats small high-quality
    sources.  Scale shape: one O(strata) aggregate + broadcast plan +
    map-side explode/filter — no corpus shuffle."""
    from dataintegration_ecomprovider_spark.llm.sampling import (
        apply_mixture, mixture_plan,
    )

    docs = Catalog(spark, sf_dir).table("documents").select(
        "doc_id", "lang", "n_chars"
    )
    total = docs.agg(F.sum("n_chars")).collect()[0][0]  # one bounded scalar
    plan = mixture_plan(
        docs, "lang", _MIXTURE_WEIGHTS, budget=2.0 * total,
        weight_col=F.col("n_chars"),
    )
    return apply_mixture(docs, plan, "lang").select("doc_id", "lang", "epoch")


ORACLE_MIXTURE_EPOCHS = """
WITH total AS (
  SELECT 2.0 * CAST(SUM(n_chars) AS DOUBLE) AS budget FROM documents
),
wts(lang, weight) AS (
  VALUES ('en', 0.5), ('de', 0.25), ('fr', 0.125), ('es', 0.0625),
         ('zh', 0.0625)
),
avail AS (
  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS avail
  FROM documents GROUP BY lang
),
plan AS (
  SELECT a.lang, w.weight / 1.0 * t.budget / a.avail AS rate
  FROM avail a JOIN wts w USING (lang) CROSS JOIN total t
),
plan2 AS (
  SELECT lang, CAST(FLOOR(rate) AS INTEGER) AS epochs,
         CAST(FLOOR((rate - FLOOR(rate)) * 65536.0) AS INTEGER) AS keep_below
  FROM plan
),
e AS (
  SELECT d.doc_id, d.lang, CAST(t.epoch AS INTEGER) AS epoch,
         p.epochs, p.keep_below
  FROM documents d
  JOIN plan2 p USING (lang)
  CROSS JOIN LATERAL (SELECT unnest(range(p.epochs + 1)) AS epoch) t
)
SELECT doc_id, lang, epoch
FROM e
WHERE epoch < epochs
   OR CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
            || CAST(epoch AS VARCHAR)), 1, 4)) AS INTEGER) < keep_below
"""


# --- portable-hash variants: the SAME algorithms, oracle-checkable --------
# The fast paths hash with xxhash64 (rows-only driver checks); these
# variants run the identical plans with the md5-derived hash family
# (llm/portable.py) that DuckDB reproduces byte-for-byte, so minhash LSH /
# simhash / hyperplane LSH / IVF each get a full value-hash oracle gate.

# DuckDB spelling of words_of / shingles_from_words (llm/dedup.py:44-63):
# split on \s+ after trim+lower; n-gram windows mirror Spark's
# sequence(0, greatest(size-n, 0)) + slice(w, i+1, n) exactly (including
# the partial-window edge for docs shorter than n words).
_PORTABLE_SHINGLES = """
words AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_filter(
           list_transform(range(0, GREATEST(len(w) - {n}, 0) + 1),
                          i -> array_to_string(w[i+1:i+{n}], ' ')),
           s -> len(s) > 0)) AS sh
  FROM words
),
hs AS (
  SELECT doc_id,
         list_transform(sh, s ->
           ('0x' || substring(md5(s), 1, 15))::BIGINT {post}) AS hs
  FROM sh
)
"""


def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_dedup_minhash_lsh with the portable hash family: identical
    banding/verify plan, md5-derived shingle hashes and literal
    signature-slice band buckets so DuckDB replicates every signature."""
    docs = Catalog(spark, sf_dir).table("documents")
    pairs = dedup.minhash_candidates(docs, num_hashes=32, bands=8, portable=True)
    return dedup.jaccard_pairs(docs, pairs).filter(F.col("jaccard") >= 0.5)


# permutation j: a = (2j+1)*2654435761 % M31, b = (j+1)*40503 % M31,
# perm(h) = (h*a + b) % M31 — mirrors llm/dedup.py::_mix exactly.
# Shared CTE chain (shingle-hash → signatures → band buckets → candidate
# pairs → jaccard verify); reused by the clustering oracle below.
_PORTABLE_PAIRS_CTES = """
sig AS (
  SELECT doc_id,
         list_transform(range(32), j ->
            list_min(list_transform(hs, h ->
               (h * (((2*j + 1) * 2654435761) % 2147483647)
                + (((j + 1) * 40503) % 2147483647)) % 2147483647))) AS sig
  FROM hs WHERE len(hs) > 0
),
bands AS (
  SELECT doc_id, t.band AS band,
         array_to_string(sig[t.band*4 + 1 : t.band*4 + 4], ',') AS bucket
  FROM sig, (SELECT unnest(range(8)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bands a
  JOIN bands b2 ON a.band = b2.band AND a.bucket = b2.bucket
                AND a.doc_id < b2.doc_id
),
jac AS (
  SELECT c.id_a, c.id_b,
         ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b
)"""

ORACLE_MINHASH_PORTABLE = (
    "WITH "
    + _PORTABLE_SHINGLES.format(n=3, post="% 2147483647")
    + ","
    + _PORTABLE_PAIRS_CTES
    + """
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
"""
)


def _incremental_matches(spark: SparkSession, sf_dir: str, portable: bool) -> DataFrame:
    """Corpus = documents with doc_id % 3 != 0 (their signature/band index
    tables built once); batch = the % 3 == 0 docs.  Output = the batch's
    matches against the index (new_id, corpus_id, est_jaccard >= 0.5)."""
    from dataintegration_ecomprovider_spark.llm import incremental

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    # corpus-sized index build: spread here (the batch side stays
    # unspread — ADVICE r13 moved the spread out of the primitive)
    idx_sigs = dedup.minhash_signatures(
        runtime.spread_scan(corpus), portable=portable
    )
    idx_bands = dedup.band_buckets(idx_sigs, portable=portable)
    step = incremental.dedup_batch_against_index(
        batch, idx_sigs, idx_bands, threshold=0.5, portable=portable
    )
    return step["matches"]


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (llm/incremental.py): a new batch matched
    against the corpus's persistent MinHash signature index — O(batch)
    per ingest, candidates from the (band, bucket) join, similarity from
    signature agreement (the MinHash Jaccard estimator), no text re-read.
    Fast path (xxhash64): rows-only driver check; the _portable twin is
    the full oracle gate."""
    return _incremental_matches(spark, sf_dir, portable=False)


def q_incremental_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_dedup_incremental on the portable md5 hash family — DuckDB
    reproduces signatures, band buckets and the agreement estimate
    byte-for-byte."""
    return _incremental_matches(spark, sf_dir, portable=True)


ORACLE_INCREMENTAL_PORTABLE = (
    "WITH "
    + _PORTABLE_SHINGLES.format(n=3, post="% 2147483647")
    + ","
    + """
sig AS (
  SELECT doc_id,
         list_transform(range(32), j ->
            list_min(list_transform(hs, h ->
               (h * (((2*j + 1) * 2654435761) % 2147483647)
                + (((j + 1) * 40503) % 2147483647)) % 2147483647))) AS sig
  FROM hs WHERE len(hs) > 0
),
corpus_bands AS (
  SELECT doc_id, t.band AS band,
         array_to_string(sig[t.band*4 + 1 : t.band*4 + 4], ',') AS bucket
  FROM sig, (SELECT unnest(range(8)) AS band) t
  WHERE doc_id % 3 <> 0
),
batch_bands AS (
  SELECT doc_id, t.band AS band,
         array_to_string(sig[t.band*4 + 1 : t.band*4 + 4], ',') AS bucket
  FROM sig, (SELECT unnest(range(8)) AS band) t
  WHERE doc_id % 3 = 0
),
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
  FROM batch_bands b
  JOIN corpus_bands c ON b.band = c.band AND b.bucket = c.bucket
)
SELECT cand.new_id, cand.corpus_id,
       ROUND(len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0, 6)
         AS est_jaccard
FROM cand
JOIN sig x ON x.doc_id = cand.new_id
JOIN sig y ON y.doc_id = cand.corpus_id
WHERE len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0 >= 0.5
"""
)


def _dedup_index_cdc(
    spark: SparkSession, sf_dir: str, portable: bool
) -> DataFrame:
    """MinHash index as a CDC-MAINTAINED VIEW (round 7,
    incremental.maintain_dedup_index): the signature/band side tables
    follow the corpus through deletes and edits, so a curation pass
    removing kept documents RETRACTS their index rows — without it,
    future ingest batches keep "deduplicating" against text that is no
    longer in the corpus and silently drop novel documents.  Lifecycle:
    seed the index from the stored corpus (doc_id % 3 ≠ 0), curate —
    delete every doc_id ≡ 1 (mod 5), append ' curated' to the text of
    doc_id ≡ 2 (mod 7) — as one MoR commit whose CDC the refresh
    consumes (re-shingle changed docs, retract deleted ones, O(changed
    rows)), then match the ingest batch (doc_id % 3 = 0) against the
    MAINTAINED index.  The matches must equal matching against an index
    built from scratch over the post-curation corpus, which is exactly
    what the DuckDB oracle computes."""
    from dataintegration_ecomprovider_spark.llm import incremental
    from dataintegration_ecomprovider_spark.plans import publish

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    root = _scratch_store_root(f"dedup_idx_{int(portable)}")
    publish.publish_tables(
        spark, {"documents": corpus}, root,
        table_keys={"documents": ["doc_id"]},
    )
    res = incremental.maintain_dedup_index(spark, root, portable=portable)
    assert res["mode"] == "seed", res
    # curation pass: drop every fifth kept doc, edit every seventh —
    # one MoR commit carrying updates + delete markers
    cur = publish.read_table(spark, root, "documents")
    updated = cur.filter(
        (F.col("doc_id") % 7 == 2) & (F.col("doc_id") % 5 != 1)
    ).withColumn("text", F.concat(F.col("text"), F.lit(" curated")))
    deleted = cur.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    publish.merge_into_mor(spark, root, "documents", updated, deletes=deleted)
    res = incremental.maintain_dedup_index(spark, root, portable=portable)
    assert res["mode"] == "delta", res
    return incremental.match_against_index(
        dedup.minhash_signatures(batch, portable=portable),
        publish.read_table(spark, root, "minhash_sigs"),
        publish.read_table(spark, root, "minhash_bands"),
        threshold=0.5, portable=portable,
    )


def q_dedup_index_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup_index_cdc(spark, sf_dir, portable=False)


def q_dedup_index_cdc_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup_index_cdc(spark, sf_dir, portable=True)


# The index the batch matches against must reflect the POST-curation
# corpus: doc_id % 5 = 1 documents deleted (their band rows retracted —
# any candidate they'd produce breaks the hash match), % 7 = 2 documents
# re-shingled over the edited text.  The batch keeps original text.
ORACLE_DEDUP_INDEX_CDC_PORTABLE = (
    """WITH curated AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 <> 0 AND doc_id % 7 = 2
              THEN text || ' curated' ELSE text END AS text
  FROM documents
  WHERE doc_id % 3 = 0 OR doc_id % 5 <> 1
),"""
    + _PORTABLE_SHINGLES.format(n=3, post="% 2147483647").replace(
        "FROM documents", "FROM curated"
    )
    + ","
    + """
sig AS (
  SELECT doc_id,
         list_transform(range(32), j ->
            list_min(list_transform(hs, h ->
               (h * (((2*j + 1) * 2654435761) % 2147483647)
                + (((j + 1) * 40503) % 2147483647)) % 2147483647))) AS sig
  FROM hs WHERE len(hs) > 0
),
corpus_bands AS (
  SELECT doc_id, t.band AS band,
         array_to_string(sig[t.band*4 + 1 : t.band*4 + 4], ',') AS bucket
  FROM sig, (SELECT unnest(range(8)) AS band) t
  WHERE doc_id % 3 <> 0
),
batch_bands AS (
  SELECT doc_id, t.band AS band,
         array_to_string(sig[t.band*4 + 1 : t.band*4 + 4], ',') AS bucket
  FROM sig, (SELECT unnest(range(8)) AS band) t
  WHERE doc_id % 3 = 0
),
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
  FROM batch_bands b
  JOIN corpus_bands c ON b.band = c.band AND b.bucket = c.bucket
)
SELECT cand.new_id, cand.corpus_id,
       ROUND(len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0, 6)
         AS est_jaccard
FROM cand
JOIN sig x ON x.doc_id = cand.new_id
JOIN sig y ON y.doc_id = cand.corpus_id
WHERE len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0 >= 0.5
"""
)


def q_text_index_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted text index as a CDC-MAINTAINED VIEW (round 7,
    llm/search.py): token postings follow the corpus through deletes and
    edits on materialize.maintain_rowwise_view's general variable-fan-out
    path — an edit that REMOVES words retracts exactly those postings (a
    bare upsert would strand them and keyword search would keep hitting
    text that's gone).  Lifecycle: seed the index from the stored corpus
    (doc_id % 3 ≠ 0), curate — delete doc_id ≡ 1 (mod 5), REPLACE the
    text of doc_id ≡ 2 (mod 7) with a short marker string (fan-out
    shrinks hard) — refresh from CDC (O(changed docs)), then return
    every posting for a probe token set drawn from the corpus plus the
    marker.  Must equal token_postings over the post-curation corpus —
    the DuckDB oracle recomputes exactly that."""
    from dataintegration_ecomprovider_spark.llm import search
    from dataintegration_ecomprovider_spark.plans import publish

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    root = _scratch_store_root("text_index")
    publish.publish_tables(
        spark, {"documents": corpus}, root,
        table_keys={"documents": ["doc_id"]},
    )
    res = search.maintain_text_index(spark, root)
    assert res["mode"] == "seed", res
    cur = publish.read_table(spark, root, "documents")
    updated = cur.filter(
        (F.col("doc_id") % 7 == 2) & (F.col("doc_id") % 5 != 1)
    ).withColumn("text", F.lit("curated marker text"))
    deleted = cur.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    publish.merge_into_mor(spark, root, "documents", updated, deletes=deleted)
    res = search.maintain_text_index(spark, root)
    assert res["mode"] == "delta", res
    postings = publish.read_table(spark, root, "token_postings")
    probe = ["the", "and", "marker", "curated", "data"]
    hits = search.search_postings(postings, probe)
    return hits.join(
        postings.filter(F.col("token").isin(probe)), "doc_id"
    ).select("doc_id", "token", "tf", "matched", "total_tf")


ORACLE_TEXT_INDEX_CDC = """
WITH curated AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 2 THEN 'curated marker text' ELSE text END
           AS text
  FROM documents
  WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 1
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> length(x) >= 2) AS toks
  FROM curated
),
postings AS (
  SELECT t.token, d.doc_id,
         CAST(len(list_filter(d.toks, x -> x = t.token)) AS INTEGER) AS tf
  FROM toks d, LATERAL (SELECT unnest(list_distinct(d.toks)) AS token) t
),
probe AS (
  SELECT * FROM postings
  WHERE token IN ('the', 'and', 'marker', 'curated', 'data')
),
hits AS (
  SELECT doc_id, CAST(COUNT(DISTINCT token) AS INTEGER) AS matched,
         CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM probe GROUP BY doc_id
)
SELECT p.doc_id, p.token, p.tf, h.matched, h.total_tf
FROM hits h JOIN probe p USING (doc_id)
"""


def q_text_search_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-RANKED search served entirely from CDC-maintained statistics
    (round 8, llm/search.py): postings + per-doc lengths + per-term
    document frequency are three chained incremental views (documents →
    token_postings → term_df is aggregate-over-a-maintained-view), each
    refreshed O(changed rows).  Lifecycle mirrors llm_text_index_cdc's
    curation pass (delete doc_id ≡ 1 mod 5, replace text of doc_id ≡ 2
    mod 7), refreshes all three from CDC, then returns the top-25 BM25
    docs for a mixed probe — scores must equal a from-scratch BM25 over
    the post-curation corpus, which the oracle recomputes."""
    from dataintegration_ecomprovider_spark.llm import search
    from dataintegration_ecomprovider_spark.plans import publish

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    root = _scratch_store_root("bm25")
    publish.publish_tables(
        spark, {"documents": corpus}, root,
        table_keys={"documents": ["doc_id"]},
    )
    for fn in (search.maintain_text_index, search.maintain_doc_lengths,
               search.maintain_term_df):
        res = fn(spark, root)
        assert res["mode"] == "seed", res
    cur = publish.read_table(spark, root, "documents")
    updated = cur.filter(
        (F.col("doc_id") % 7 == 2) & (F.col("doc_id") % 5 != 1)
    ).withColumn("text", F.lit("curated marker text"))
    deleted = cur.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    publish.merge_into_mor(spark, root, "documents", updated, deletes=deleted)
    for fn in (search.maintain_text_index, search.maintain_doc_lengths,
               search.maintain_term_df):
        res = fn(spark, root)
        assert res["mode"] == "delta", res
    return search.bm25_topk(
        publish.read_table(spark, root, "token_postings"),
        publish.read_table(spark, root, "doc_lengths"),
        publish.read_table(spark, root, "term_df"),
        ["data", "spark", "marker"], k=25,
    )


ORACLE_TEXT_SEARCH_RANKED = """
WITH curated AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 2 THEN 'curated marker text' ELSE text END
           AS text
  FROM documents
  WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 1
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> length(x) >= 2) AS toks
  FROM curated
),
postings AS (
  SELECT t.token, d.doc_id,
         CAST(len(list_filter(d.toks, x -> x = t.token)) AS INTEGER) AS tf
  FROM toks d, LATERAL (SELECT unnest(list_distinct(d.toks)) AS token) t
),
dl AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS dl FROM toks),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(dl AS DOUBLE)) AS avgdl
  FROM dl
),
tdf AS (
  SELECT token, CAST(COUNT(*) AS DOUBLE) AS df
  FROM postings GROUP BY token
),
probe AS (
  SELECT * FROM postings WHERE token IN ('data', 'spark', 'marker')
),
scored AS (
  SELECT p.doc_id,
         CAST(COUNT(DISTINCT p.token) AS INTEGER) AS matched,
         ROUND(SUM(
           ln(1.0 + (s.n - t.df + 0.5) / (t.df + 0.5))
           * CAST(p.tf AS DOUBLE) * 2.2
           / (CAST(p.tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
         ), 6) AS score
  FROM probe p
  JOIN tdf t USING (token)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, matched, score FROM scored
ORDER BY score DESC, doc_id
LIMIT 25
"""


def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: portable-minhash candidate pairs (jaccard
    >= 0.5) grouped into connected components (llm/cluster.py — pointer-
    jumping label propagation, O(log diameter) rounds, no driver-side
    union-find), every doc mapped to its cluster id (min doc_id in the
    component; singletons map to themselves) with the canonical survivor
    flagged.  Keep-one-per-cluster dedup = filter(is_canonical)."""
    from dataintegration_ecomprovider_spark.llm import cluster

    docs = Catalog(spark, sf_dir).table("documents")
    pairs = dedup.minhash_candidates(docs, num_hashes=32, bands=8, portable=True)
    pairs = dedup.jaccard_pairs(docs, pairs).filter(F.col("jaccard") >= 0.5)
    return cluster.dedup_clusters(docs.select("doc_id"), pairs)


# The recursive CTE enumerates every (node, reachable-label) pair — fine at
# oracle SF, exponential-ish on dense graphs at scale; it exists to PROVE
# the pointer-jumping result, not to compute it.
ORACLE_CLUSTER_CC = (
    "WITH RECURSIVE "
    + _PORTABLE_SHINGLES.format(n=3, post="% 2147483647")
    + ","
    + _PORTABLE_PAIRS_CTES
    + """,
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node)
SELECT d.doc_id,
       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS cluster_id,
       (COALESCE(c.component, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""
)


def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_dedup_simhash with the portable hash family (60 usable bits)."""
    docs = Catalog(spark, sf_dir).table("documents")
    return dedup.simhash_signatures(docs, bits=60, portable=True)


ORACLE_SIMHASH_PORTABLE = (
    "WITH "
    + _PORTABLE_SHINGLES.format(n=2, post="")
    + """
SELECT doc_id,
       CAST(list_sum(list_transform(range(60), i ->
          CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
                 CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
               THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
FROM hs
"""
)


# DuckDB spelling of the portable hyperplane bucket
# (llm/similarity.py::hyperplane_bucket portable=True): plane p's ±1 sign
# for dimension d has the parity of md5('p:d'); bucket = Σ 2^p over planes
# whose signed projection is positive.
def _bucket_sql(planes: int) -> str:
    return f"""
         CAST(list_sum(list_transform(range({planes}), p ->
            CASE WHEN list_dot_product(v, list_transform(range(len(v)), d ->
                   CASE WHEN (('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 15))::BIGINT & 1) = 1
                        THEN 1.0 ELSE -1.0 END)) > 0
                 THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
    """


_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


_QUANT = (
    "list_transform({v}, x -> floor(x * 127.0 / "
    "GREATEST(list_max(list_transform({v}, y -> abs(y))), 1e-30)))"
)

ORACLE_TOPK_QUANTIZED = f"""
WITH v AS (
  SELECT vec_id,
         {_QUANT.format(v="list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS q
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS.format(a="a.q", b="c.q")} AS similarity
  FROM v a JOIN v c ON a.vec_id <> c.vec_id
  WHERE a.vec_id < 10
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, similarity, rank FROM ranked WHERE rank <= 5
"""


def q_near_dup_embedding_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    return similarity.near_dup_pairs_lsh(emb, threshold=0.2, planes=6, portable=True)


ORACLE_NEAR_DUP_LSH_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v, {_bucket_sql(6)} AS bucket FROM v
),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         {_COS.format(a="a.v", b="b2.v")} AS similarity
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
SELECT DISTINCT id_a, id_b, similarity FROM pairs WHERE similarity >= 0.2
"""


def q_lsh_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries, k=5, planes=6, portable=True)


ORACLE_LSH_TOPK_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v, {_bucket_sql(6)} AS bucket FROM v
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS.format(a="q.v", b="c.v")} AS similarity
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, similarity, rank FROM ranked WHERE rank <= 5
"""


def q_ivf_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, portable=True
    )


def _ivf_index_roundtrip(spark: SparkSession, sf_dir: str, portable: bool) -> DataFrame:
    """Build the IVF index ONCE, publish it to a throwaway versioned
    store (cells bucketed on the cell id — probe joins read co-located
    buckets), read it back, and serve the query batch from the stored
    index.  Must be result-identical to the inline ivf_topk, so the
    portable twin reuses ORACLE_IVF_TOPK_PORTABLE verbatim."""
    from dataintegration_ecomprovider_spark.plans import publish

    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = similarity.ivf_index(emb, n_centroids=16, portable=portable)
    root = _scratch_store_root(f"ivf_index_{int(portable)}")
    publish.publish_tables(
        spark,
        {"ivf_centroids": idx["centroids"], "ivf_cells": idx["cells"]},
        root,
        bucket_keys={"ivf_cells": ["cid"]},
        num_buckets=8,
    )
    return similarity.ivf_topk_from_index(
        queries,
        publish.read_table(spark, root, "ivf_centroids"),
        publish.read_table(spark, root, "ivf_cells"),
        k=5, n_probe=4,
    )


def q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving from a PERSISTED IVF index (llm/similarity.py::
    ivf_index + ivf_topk_from_index through the versioned store) — the
    corpus-scale assignment pass runs once at index-build, not per query
    batch.  Fast path: rows-only; the _portable twin carries the oracle."""
    return _ivf_index_roundtrip(spark, sf_dir, portable=False)


def q_ivf_index_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_index_roundtrip(spark, sf_dir, portable=True)


def q_ivf_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with 2 Lloyd refinement iterations on the centroid seed —
    xxhash64 fast path, rows-only; the md5-family `_portable` twin below
    carries the DuckDB oracle for the full refinement (recall and
    determinism additionally pinned in
    tests/test_llm.py::test_ivf_kmeans_refinement)."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, refine_iters=2
    )


def q_ivf_topk_refined_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle twin of q_ivf_topk_refined on the md5 hash family: the SAME
    2-iteration Lloyd refinement, value-checked against a DuckDB oracle
    that unrolls both iterations in SQL.  The recomputed means are pinned
    to 9 decimals on BOTH engines (kmeans_refine(round_means=9)) — the
    only data-dependent floats whose summation order differs across
    engines."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, portable=True,
        refine_iters=2,
    )


def _lloyd_iter_sql(cent_in: str, cent_out: str) -> str:
    """One unrolled Lloyd iteration as DuckDB CTEs: assign every vector
    to its nearest `cent_in` centroid (rounded cosine, cid tie-break),
    then per-(cid, dim) mean, rounded to 9 decimals like the Spark side.
    Parallel UNNESTs zip, so dim indexes are 0-based like posexplode."""
    cos = _COS.format(a="a.v", b="c.cv")
    return f"""{cent_out}_a AS (
  SELECT a.vec_id, a.v, c.cid, {cos} AS csim
  FROM v a CROSS JOIN {cent_in} c
),
{cent_out}_r AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, cid ASC) AS rn
  FROM {cent_out}_a
),
{cent_out}_m AS (
  SELECT cid, dim, ROUND(AVG(x), 9) AS m
  FROM (
    SELECT cid, UNNEST(v) AS x, UNNEST(range(len(v))) AS dim
    FROM {cent_out}_r WHERE rn = 1
  )
  GROUP BY cid, dim
),
{cent_out} AS (
  SELECT cid, list(m ORDER BY dim ASC) AS cv FROM {cent_out}_m GROUP BY cid
)"""


def q_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus topic clustering for mixture balancing (round 5,
    similarity.cluster_assignments): hash-seeded k-means (2 Lloyd
    iterations) + final nearest-centroid assignment — (vec_id, cid,
    csim).  xxhash64 fast path, rows-only; the md5 twin below is
    oracle-checked."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    return similarity.cluster_assignments(emb, n_clusters=16, iters=2)


def q_topic_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    return similarity.cluster_assignments(
        emb, n_clusters=16, iters=2, portable=True
    )


ORACLE_IVF_TOPK_REFINED_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent0 AS (
  SELECT vec_id AS cid, v AS cv FROM v
  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
           vec_id ASC
  LIMIT 16
),
{_lloyd_iter_sql("cent0", "cent1")},
{_lloyd_iter_sql("cent1", "cent2")},
ascore AS (
  SELECT a.vec_id, a.v, c.cid,
         {_COS.format(a="a.v", b="c.cv")} AS csim
  FROM v a CROSS JOIN cent2 c
),
aranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid ASC) AS crank
  FROM ascore
),
cells AS (SELECT vec_id AS neighbor_id, v AS nv, cid FROM aranked WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cid FROM aranked
           WHERE crank <= 4 AND vec_id < 10),
scored AS (
  SELECT p.query_id, c.neighbor_id,
         {_COS.format(a="p.qv", b="c.nv")} AS similarity
  FROM probes p JOIN cells c ON p.cid = c.cid AND p.query_id <> c.neighbor_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, similarity, rank FROM ranked WHERE rank <= 5
"""


def _topic_clusters_incremental(
    spark: SparkSession, sf_dir: str, portable: bool
) -> DataFrame:
    """Two-batch incremental topic maintenance (round 6): build + refine
    the centroid index on the FIRST ingest batch only, publish centroids
    and the batch's assignments to a versioned store, then assign the
    SECOND batch against the PERSISTED centroids (O(batch) broadcast
    scoring — the corpus that built the index is never re-touched) and
    merge the delta in.  Already-assigned rows stay byte-stable (pinned
    in tests/test_llm_incremental.py); the continuously-fed corpus's
    mixture-balancing loop, pairing with llm_dedup_incremental's
    MinHash-index ingest pattern.  Recentering = periodic index rebuild
    in a maintenance pass."""
    from dataintegration_ecomprovider_spark.plans import publish

    emb = Catalog(spark, sf_dir).table("embeddings")
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    batch2 = emb.filter(F.col("vec_id") % 2 != 0)

    idx = similarity.ivf_index(
        batch1, n_centroids=16, portable=portable, refine_iters=2
    )
    root = _scratch_store_root(f"topic_incr_{int(portable)}")
    publish.publish_tables(
        spark,
        {
            "topic_centroids": idx["centroids"],
            "topic_assignments": similarity.assign_to_index(
                batch1, idx["centroids"]
            ),
        },
        root,
        table_keys={"topic_assignments": ["vec_id"]},
    )
    # second ingest: score ONLY the new rows against the stored centroids
    delta = similarity.assign_to_index(
        batch2, publish.read_table(spark, root, "topic_centroids")
    )
    publish.merge_into(spark, root, "topic_assignments", delta)
    return publish.read_table(spark, root, "topic_assignments")


def q_topic_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topic_clusters_incremental(spark, sf_dir, portable=False)


def q_topic_clusters_incremental_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _topic_clusters_incremental(spark, sf_dir, portable=True)


def q_topic_recenter_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental-topic LIFECYCLE (round 6): seed the centroid
    index on ingest batch 1, assign batch 2 against the stale persisted
    centroids (assign_to_index, O(batch)), then run the nightly
    maintenance gate — maintain_store(topic_specs=...) measures the
    stored assignments' mean cosine-to-centroid (one small agg, no
    corpus scan) and only below the threshold rebuilds the index over
    the FULL store-resident corpus and republishes centroids +
    assignments atomically (similarity.recenter_topics).  In-query
    assertions pin the gate BOTH ways: an already-met threshold skips
    without publishing, drift triggers the rebuild.  The recentered
    table is value-identical to cluster_assignments over the whole
    corpus, so the same DuckDB oracle checks it."""
    from dataintegration_ecomprovider_spark.plans import publish

    emb = Catalog(spark, sf_dir).table("embeddings")
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.ivf_index(
        batch1, n_centroids=16, portable=True, refine_iters=2
    )
    root = _scratch_store_root("topic_recenter")
    publish.publish_tables(
        spark,
        {
            "embeddings": emb,
            "topic_centroids": idx["centroids"],
            "topic_assignments": similarity.assign_to_index(
                batch1, idx["centroids"]
            ),
        },
        root,
        table_keys={"topic_assignments": ["vec_id"]},
    )
    publish.merge_into(
        spark, root, "topic_assignments",
        similarity.assign_to_index(
            emb.filter(F.col("vec_id") % 2 != 0),
            publish.read_table(spark, root, "topic_centroids"),
        ),
    )
    spec = {"corpus_table": "embeddings", "n_clusters": 16, "iters": 2,
            "portable": True}
    # healthy threshold (cosine mean is always ≥ -1) → measured, skipped,
    # and nothing published
    v0 = publish.current_manifest(root)["version"]
    rep = publish.maintain_store(
        spark, root, topic_specs=[{**spec, "min_mean_csim": -1.1}]
    )
    res = rep["topics"]["topic_assignments"]
    assert res["recentered"] is False and res["mean_csim"] is not None, rep
    assert publish.current_manifest(root)["version"] == v0, \
        "a skipped recenter must not publish"
    # unreachable threshold → drift detected, full rebuild + atomic swap
    rep = publish.maintain_store(
        spark, root, topic_specs=[{**spec, "min_mean_csim": 1.01}]
    )
    assert rep["topics"]["topic_assignments"]["recentered"] is True, rep
    assert publish.current_manifest(root)["version"] == v0 + 1, rep
    return publish.read_table(spark, root, "topic_assignments")


# Centroids derive from batch 1 (vec_id % 2 = 0) alone — seed pick and
# both Lloyd iterations run over `v` = batch 1 — while the final
# assignment covers every document; the incremental two-batch ingest
# must equal that single expression exactly.
ORACLE_TOPIC_CLUSTERS_INCREMENTAL_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % 2 = 0
),
cent0 AS (
  SELECT vec_id AS cid, v AS cv FROM v
  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
           vec_id ASC
  LIMIT 16
),
{_lloyd_iter_sql("cent0", "cent1")},
{_lloyd_iter_sql("cent1", "cent2")},
vall AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ascore AS (
  SELECT a.vec_id, c.cid,
         {_COS.format(a="a.v", b="c.cv")} AS csim
  FROM vall a CROSS JOIN cent2 c
),
aranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid ASC) AS crank
  FROM ascore
)
SELECT vec_id, cid, csim FROM aranked WHERE crank = 1
"""


def _topic_assignments_cdc(
    spark: SparkSession, sf_dir: str, portable: bool
) -> DataFrame:
    """Topic assignments as a CDC-MAINTAINED VIEW (round 7,
    similarity.maintain_topic_assignments): the assignments table
    follows the embeddings table through inserts, UPDATES and DELETES —
    the stale-row gap a bare assign_to_index ingest loop leaves when a
    dedup/curation pass removes documents.  Lifecycle: seed on ingest
    batch 1 (centroids built there, portable md5 seeding for the
    oracle), MoR-insert batch 2 and refresh (O(batch) against the
    persisted centroids), then a curation pass — delete every vec_id ≡ 3
    (mod 5), flip the vectors of vec_id ≡ 1 (mod 7) — lands as ONE MoR
    commit whose CDC the next refresh consumes: re-score the updated
    rows, retract the deleted ones, O(changed rows) read AND write.
    The final table must equal a one-shot assignment of the CURRENT
    corpus against the batch-1 centroids, which is exactly what the
    DuckDB oracle computes."""
    from dataintegration_ecomprovider_spark.plans import publish

    emb = Catalog(spark, sf_dir).table("embeddings")
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.ivf_index(
        batch1, n_centroids=16, portable=portable, refine_iters=1
    )
    root = _scratch_store_root(f"topic_cdc_{int(portable)}")
    publish.publish_tables(
        spark,
        {"embeddings": batch1, "topic_centroids": idx["centroids"]},
        root,
        table_keys={"embeddings": ["vec_id"]},
    )
    res = similarity.maintain_topic_assignments(spark, root)
    assert res["mode"] == "seed", res
    # ingest batch 2 as a merge-on-read commit; the refresh consumes its
    # CDC and scores ONLY the new rows
    publish.merge_into_mor(
        spark, root, "embeddings", emb.filter(F.col("vec_id") % 2 != 0)
    )
    res = similarity.maintain_topic_assignments(spark, root)
    assert res["mode"] == "delta", res
    # curation pass: drop every fifth document, re-embed (negate) every
    # seventh — one MoR commit carrying updates + delete markers
    cur = publish.read_table(spark, root, "embeddings")
    updated = cur.filter(
        (F.col("vec_id") % 7 == 1) & (F.col("vec_id") % 5 != 3)
    ).withColumn("embedding", F.transform(F.col("embedding"), lambda x: -x))
    deleted = cur.filter(F.col("vec_id") % 5 == 3).select("vec_id")
    publish.merge_into_mor(spark, root, "embeddings", updated, deletes=deleted)
    res = similarity.maintain_topic_assignments(spark, root)
    assert res["mode"] == "delta", res
    out = publish.read_table(spark, root, "topic_assignments")
    return out


def q_topic_assignments_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topic_assignments_cdc(spark, sf_dir, portable=False)


def q_topic_assignments_cdc_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _topic_assignments_cdc(spark, sf_dir, portable=True)


# Centroids derive from batch 1 (vec_id % 2 = 0) alone; the maintained
# view must equal assigning the POST-CURATION corpus (vec_id % 5 ≠ 3,
# vectors negated where vec_id % 7 = 1) against those centroids — any
# stale assignment row for a deleted document, or an un-rescored row for
# an updated one, breaks the hash match.
ORACLE_TOPIC_ASSIGNMENTS_CDC_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % 2 = 0
),
cent0 AS (
  SELECT vec_id AS cid, v AS cv FROM v
  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
           vec_id ASC
  LIMIT 16
),
{_lloyd_iter_sql("cent0", "cent1")},
vall AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 1
              THEN list_transform(embedding, x -> -CAST(x AS DOUBLE))
              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
  FROM embeddings WHERE vec_id % 5 <> 3
),
ascore AS (
  SELECT a.vec_id, c.cid,
         {_COS.format(a="a.v", b="c.cv")} AS csim
  FROM vall a CROSS JOIN cent1 c
),
aranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid ASC) AS crank
  FROM ascore
)
SELECT vec_id, cid, csim FROM aranked WHERE crank = 1
"""


ORACLE_TOPIC_CLUSTERS_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent0 AS (
  SELECT vec_id AS cid, v AS cv FROM v
  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
           vec_id ASC
  LIMIT 16
),
{_lloyd_iter_sql("cent0", "cent1")},
{_lloyd_iter_sql("cent1", "cent2")},
ascore AS (
  SELECT a.vec_id, c.cid,
         {_COS.format(a="a.v", b="c.cv")} AS csim
  FROM v a CROSS JOIN cent2 c
),
aranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid ASC) AS crank
  FROM ascore
)
SELECT vec_id, cid, csim FROM aranked WHERE crank = 1
"""


ORACLE_IVF_TOPK_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM v
  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
           vec_id ASC
  LIMIT 16
),
ascore AS (
  SELECT a.vec_id, a.v, c.cid,
         {_COS.format(a="a.v", b="c.cv")} AS csim
  FROM v a CROSS JOIN cent c
),
aranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid ASC) AS crank
  FROM ascore
),
cells AS (SELECT vec_id AS neighbor_id, v AS nv, cid FROM aranked WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cid FROM aranked
           WHERE crank <= 4 AND vec_id < 10),
scored AS (
  SELECT p.query_id, c.neighbor_id,
         {_COS.format(a="p.qv", b="c.nv")} AS similarity
  FROM probes p JOIN cells c ON p.cid = c.cid AND p.query_id <> c.neighbor_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, similarity, rank FROM ranked WHERE rank <= 5
"""


def _ann_index_cdc(
    spark: SparkSession, sf_dir: str, portable: bool
) -> DataFrame:
    """Persisted ANN index as a CDC-MAINTAINED VIEW (round 7,
    similarity.maintain_ivf_cells): the IVF cell table follows the
    embeddings table, so similarity search stops returning vectors
    curation deleted.  Lifecycle: build centroids on ingest batch 1
    (vec_id % 2 = 0, md5 rank pick for the oracle), seed the cell
    table, MoR-insert batch 2 and refresh (O(batch) re-assignment
    against the broadcast persisted centroids), delete every vec_id ≡ 3
    (mod 5) and refresh (cell rows RETRACTED), then serve top-k for the
    live queries (vec_id < 10) from the maintained index.  The result
    must equal IVF serving over the post-curation corpus with the
    batch-1 centroids — exactly what the DuckDB oracle computes; a
    stale cell row for a deleted vector would surface it as a neighbor
    and break the hash match."""
    from dataintegration_ecomprovider_spark.plans import publish

    emb = Catalog(spark, sf_dir).table("embeddings")
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.ivf_index(batch1, n_centroids=16, portable=portable)
    root = _scratch_store_root(f"ann_cdc_{int(portable)}")
    publish.publish_tables(
        spark,
        {"embeddings": batch1, "ivf_centroids": idx["centroids"]},
        root, table_keys={"embeddings": ["vec_id"]},
    )
    res = similarity.maintain_ivf_cells(spark, root)
    assert res["mode"] == "seed", res
    publish.merge_into_mor(
        spark, root, "embeddings", emb.filter(F.col("vec_id") % 2 != 0)
    )
    res = similarity.maintain_ivf_cells(spark, root)
    assert res["mode"] == "delta", res
    cur = publish.read_table(spark, root, "embeddings")
    publish.merge_into_mor(
        spark, root, "embeddings", cur.limit(0),
        deletes=cur.filter(F.col("vec_id") % 5 == 3).select("vec_id"),
    )
    res = similarity.maintain_ivf_cells(spark, root)
    assert res["mode"] == "delta", res
    live = publish.read_table(spark, root, "embeddings")
    return similarity.ivf_topk_from_index(
        live.filter(F.col("vec_id") < 10),
        publish.read_table(spark, root, "ivf_centroids"),
        publish.read_table(spark, root, "ivf_cells"),
        k=5, n_probe=4,
    )


def q_ann_index_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_index_cdc(spark, sf_dir, portable=False)


def q_ann_index_cdc_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_index_cdc(spark, sf_dir, portable=True)


# Centroids from batch 1 (md5 rank pick, no refine); cells and probes
# over the POST-curation corpus (vec_id % 5 ≠ 3) — a deleted vector may
# appear neither as a query nor as a neighbor.
ORACLE_ANN_INDEX_CDC_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM v
  WHERE vec_id % 2 = 0
  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
           vec_id ASC
  LIMIT 16
),
vlive AS (SELECT * FROM v WHERE vec_id % 5 <> 3),
ascore AS (
  SELECT a.vec_id, a.v, c.cid,
         {_COS.format(a="a.v", b="c.cv")} AS csim
  FROM vlive a CROSS JOIN cent c
),
aranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid ASC) AS crank
  FROM ascore
),
cells AS (SELECT vec_id AS neighbor_id, v AS nv, cid FROM aranked WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cid FROM aranked
           WHERE crank <= 4 AND vec_id < 10),
scored AS (
  SELECT p.query_id, c.neighbor_id,
         {_COS.format(a="p.qv", b="c.nv")} AS similarity
  FROM probes p JOIN cells c ON p.cid = c.cid AND p.query_id <> c.neighbor_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, similarity, rank FROM ranked WHERE rank <= 5
"""


def q_pq_codes_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted PQ code table as a CDC-MAINTAINED VIEW (round 9,
    similarity.maintain_pq_codes on the rowwise-view primitive): the
    codes follow the embeddings table — deletes retract code rows,
    re-embedded vectors re-encode against the PERSISTED codebook, and
    each refresh re-encodes only the changed vectors (broadcast m×k
    codebook, O(batch)).  Lifecycle: sample + publish the codebook from
    ingest batch 1 (portable md5 rank), seed the code table, MoR-insert
    batch 2 → refresh, delete every vec_id ≡ 3 (mod 5) → refresh
    (retraction), re-embed every live vec_id ≡ 0 (mod 7) as its
    reversed vector → refresh (re-encode).  The maintained table must
    equal a from-scratch encode of the FINAL corpus with the BATCH-1
    codebook — exactly what the oracle computes; a stale code row for a
    deleted or re-embedded vector breaks the hash."""
    from dataintegration_ecomprovider_spark.plans import publish

    emb = Catalog(spark, sf_dir).table("embeddings")
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    root = _scratch_store_root("pq_cdc")
    publish.publish_tables(
        spark, {"embeddings": batch1}, root,
        table_keys={"embeddings": ["vec_id"]},
    )
    similarity.publish_pq_codebook(
        spark, root, m=4, codebook_size=16, portable=True
    )
    res = similarity.maintain_pq_codes(spark, root)
    assert res["mode"] == "seed", res
    publish.merge_into_mor(
        spark, root, "embeddings", emb.filter(F.col("vec_id") % 2 != 0)
    )
    res = similarity.maintain_pq_codes(spark, root)
    assert res["mode"] == "delta", res
    cur = publish.read_table(spark, root, "embeddings")
    publish.merge_into_mor(
        spark, root, "embeddings", cur.limit(0),
        deletes=cur.filter(F.col("vec_id") % 5 == 3).select("vec_id"),
    )
    res = similarity.maintain_pq_codes(spark, root)
    assert res["mode"] == "delta", res
    cur = publish.read_table(spark, root, "embeddings")
    publish.merge_into_mor(
        spark, root, "embeddings",
        cur.filter(F.col("vec_id") % 7 == 0)
        .withColumn("embedding", F.reverse("embedding")),
    )
    res = similarity.maintain_pq_codes(spark, root)
    assert res["mode"] == "delta", res
    codes = publish.read_table(spark, root, "pq_codes")
    return codes.select(
        "vec_id", F.posexplode("codes").alias("j", "code")
    ).select("vec_id", F.col("j").cast("int").alias("j"), "code")


ORACLE_PQ_CODES_CDC = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rv
  FROM embeddings
),
sample AS (
  SELECT vec_id,
         list_transform(rv, x -> x / sqrt(list_dot_product(rv, rv))) AS nv,
         CAST(ROW_NUMBER() OVER (
           ORDER BY {md5_int60_sql("CAST(vec_id AS VARCHAR)")} ASC,
                    vec_id ASC) - 1 AS INTEGER) AS c
  FROM v WHERE vec_id % 2 = 0
  QUALIFY c < 16
),
codebook AS (
  SELECT CAST(t.j AS INTEGER) AS j, c, nv[t.j*16+1 : t.j*16+16] AS cv
  FROM sample, UNNEST(range(0, 4)) AS t(j)
),
final AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 0 THEN list_reverse(rv) ELSE rv END AS fv
  FROM v WHERE vec_id % 5 <> 3
),
nfinal AS (
  SELECT vec_id,
         list_transform(fv, x -> x / sqrt(list_dot_product(fv, fv))) AS nv
  FROM final
),
enc AS (
  SELECT a.vec_id, cb.j, cb.c,
         ROUND(list_sum(list_transform(range(1, 17),
           i -> (a.nv[cb.j*16 + i] - cb.cv[i])
              * (a.nv[cb.j*16 + i] - cb.cv[i]))), 6) AS d
  FROM nfinal a CROSS JOIN codebook cb
),
best AS (
  SELECT vec_id, j, c AS code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d ASC, c ASC) AS rn
  FROM enc
)
SELECT vec_id, j, code FROM best WHERE rn = 1
"""


# --- cross-document repeated spans (boilerplate detection) ----------------
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width repeated-span detection across the corpus
    (llm/dedup.py::repeated_spans) — the shuffle-friendly stand-in for
    suffix-array substring dedup: 4-word spans present in ≥2 documents."""
    docs = Catalog(spark, sf_dir).table("documents")
    return dedup.repeated_spans(docs, span_words=4, min_docs=2)


ORACLE_REPEATED_SPANS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(ws) - 3, 0) + 1),
           i -> array_to_string(ws[i:i+3], ' '))) AS spans
  FROM w WHERE len(ws) >= 4
),
e AS (SELECT doc_id, unnest(spans) AS span FROM sh)
SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM e GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
"""


def q_repeated_spans_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL repeated spans by length doubling (round 9,
    llm/dedup.py::repeated_spans_maximal): widths 4/8/16 words; a span
    survives only where no double-width repeated span covers one of its
    occurrences — the shuffle-decomposable approximation of suffix-array
    maximal-repeat dedup (Lee et al. 2022).  The oracle unrolls the three
    levels in plain SQL (positional n-grams + anti-join coverage)."""
    docs = Catalog(spark, sf_dir).table("documents")
    return dedup.repeated_spans_maximal(
        docs, span_words=4, levels=3, min_docs=2
    )


ORACLE_REPEATED_SPANS_MAXIMAL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
),
o1 AS (
  SELECT doc_id, p AS pos, array_to_string(ws[p+1:p+4], ' ') AS span
  FROM w, UNNEST(range(0, len(ws) - 3)) AS t(p) WHERE len(ws) >= 4
),
r1 AS (
  SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM o1 GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
),
ro1 AS (SELECT o.doc_id, o.pos, o.span, r.n_docs FROM o1 o JOIN r1 r USING (span)),
o2 AS (
  SELECT doc_id, p AS pos, array_to_string(ws[p+1:p+8], ' ') AS span
  FROM w, UNNEST(range(0, len(ws) - 7)) AS t(p) WHERE len(ws) >= 8
),
r2 AS (
  SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM o2 GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
),
ro2 AS (SELECT o.doc_id, o.pos, o.span, r.n_docs FROM o2 o JOIN r2 r USING (span)),
o3 AS (
  SELECT doc_id, p AS pos, array_to_string(ws[p+1:p+16], ' ') AS span
  FROM w, UNNEST(range(0, len(ws) - 15)) AS t(p) WHERE len(ws) >= 16
),
r3 AS (
  SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM o3 GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
),
ro3 AS (SELECT o.doc_id, o.pos, o.span, r.n_docs FROM o3 o JOIN r3 r USING (span)),
m1 AS (
  SELECT DISTINCT a.span, 4 AS width, a.n_docs FROM ro1 a
  WHERE NOT EXISTS (
    SELECT 1 FROM ro2 c
    WHERE c.doc_id = a.doc_id AND c.pos <= a.pos AND a.pos + 4 <= c.pos + 8
  )
),
m2 AS (
  SELECT DISTINCT a.span, 8 AS width, a.n_docs FROM ro2 a
  WHERE NOT EXISTS (
    SELECT 1 FROM ro3 c
    WHERE c.doc_id = a.doc_id AND c.pos <= a.pos AND a.pos + 8 <= c.pos + 16
  )
),
m3 AS (SELECT DISTINCT span, 16 AS width, n_docs FROM ro3)
SELECT span, CAST(width AS INTEGER) AS width, n_docs FROM m1
UNION ALL
SELECT span, CAST(width AS INTEGER) AS width, n_docs FROM m2
UNION ALL
SELECT span, CAST(width AS INTEGER) AS width, n_docs FROM m3
"""


# --- SemDeDup: cluster-scoped semantic deduplication ----------------------
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: IVF-cluster
    the space, drop every vector with a lower-id near-twin (cosine ≥ 0.25)
    in its cluster (llm/similarity.py::semantic_dedup).  Work is Σ|cell|²,
    never |corpus|² — the published recipe for semantic dedup at web scale.
    Fast path (xxhash64 centroid pick): rows-only; the _portable twin
    carries the DuckDB oracle."""
    # guide §2.5 spread (round-14 interleaved A/B: min 2.64 → 2.30 s,
    # 6-rep sums 16.8 → 16.1): centroid pick is totally ordered, cell
    # assignment/pair join order-insensitive
    emb = runtime.spread_scan(Catalog(spark, sf_dir).table("embeddings"))
    return similarity.semantic_dedup(emb, threshold=0.25, n_centroids=16).select(
        "vec_id"
    )


def q_semantic_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = runtime.spread_scan(Catalog(spark, sf_dir).table("embeddings"))
    return similarity.semantic_dedup(
        emb, threshold=0.25, n_centroids=16, portable=True
    ).select("vec_id")


ORACLE_SEMANTIC_DEDUP_PORTABLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM v
  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
           vec_id ASC
  LIMIT 16
),
ascore AS (
  SELECT a.vec_id, a.v, c.cid,
         {_COS.format(a="a.v", b="c.cv")} AS csim
  FROM v a CROSS JOIN cent c
),
aranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY csim DESC, cid ASC) AS crank
  FROM ascore
),
cells AS (SELECT vec_id, v AS nv, cid FROM aranked WHERE crank = 1),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_COS.format(a="a.nv", b="b.nv")} >= 0.25
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM dups)
"""


# --- corpus curation: per-group quantile filter + sequence packing --------
def q_quality_filter_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop each language's worst word-count quartile — per-group exact
    percentile broadcast back as a map-side filter (llm/sampling.py::
    quality_filter_by_quantile)."""
    from dataintegration_ecomprovider_spark.llm.sampling import quality_filter_by_quantile

    docs = Catalog(spark, sf_dir).table("documents")
    out = quality_filter_by_quantile(
        docs, text_ops.n_words(F.col("text")), "lang", quantile=0.25
    )
    return out.select(
        "doc_id", "lang", text_ops.n_words(F.col("text")).alias("word_count")
    )


ORACLE_QUALITY_FILTER = """
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS wc
  FROM documents
),
cut AS (SELECT lang, quantile_cont(wc, 0.25) AS cutoff FROM scored GROUP BY lang)
SELECT s.doc_id, s.lang, CAST(s.wc AS BIGINT) AS word_count
FROM scored s JOIN cut c ON s.lang = c.lang
WHERE s.wc >= c.cutoff
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing into ~1000-token bins per language
    (llm/sampling.py::pack_sequences)."""
    from dataintegration_ecomprovider_spark.llm.sampling import pack_sequences

    docs = Catalog(spark, sf_dir).table("documents")
    out = pack_sequences(
        docs, text_ops.n_words(F.col("text")), bin_tokens=1000, partition_col="lang"
    )
    return out.select("doc_id", "lang", "n_tokens", "bin_id")


ORACLE_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 1000.0) AS BIGINT) AS bin_id
FROM t
"""


# --- repetition metrics (Gopher-style quality rules) ----------------------
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-word / top-word / top-bigram shares + keep flag
    (llm/curation.py::repetition_metrics)."""
    from dataintegration_ecomprovider_spark.llm.curation import repetition_metrics

    docs = Catalog(spark, sf_dir).table("documents")
    return repetition_metrics(docs)


ORACLE_REPETITION = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS words
  FROM documents
),
grams AS (
  SELECT doc_id, 1 AS n, unnest(words) AS gram FROM w
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(
           range(1, greatest(len(words) - 1, 0) + 1),
           i -> words[i] || ' ' || words[i + 1])) AS gram
  FROM w
),
per_gram AS (
  SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY ALL
),
per_doc_n AS (
  SELECT doc_id, n, SUM(cnt) AS total, MAX(cnt) AS top,
         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
  FROM per_gram GROUP BY doc_id, n
),
wide AS (
  SELECT doc_id,
         COALESCE(MAX(CASE WHEN n = 1 THEN total END), 0) AS word_count,
         COALESCE(MAX(CASE WHEN n = 1 THEN top END), 0) AS top_word,
         COALESCE(MAX(CASE WHEN n = 1 THEN dup END), 0) AS dup_words,
         COALESCE(MAX(CASE WHEN n = 2 THEN total END), 0) AS bigram_count,
         COALESCE(MAX(CASE WHEN n = 2 THEN top END), 0) AS top_bigram
  FROM per_doc_n GROUP BY doc_id
),
base AS (
  SELECT d.doc_id,
         COALESCE(word_count, 0) AS word_count,
         COALESCE(top_word, 0) AS top_word,
         COALESCE(dup_words, 0) AS dup_words,
         COALESCE(bigram_count, 0) AS bigram_count,
         COALESCE(top_bigram, 0) AS top_bigram
  FROM documents d LEFT JOIN wide USING (doc_id)
)
SELECT doc_id,
       CAST(word_count AS BIGINT) AS word_count,
       ROUND(dup_words / greatest(word_count, 1), 6) AS dup_word_ratio,
       ROUND(top_word / greatest(word_count, 1), 6) AS top_word_ratio,
       ROUND(top_bigram / greatest(bigram_count, 1), 6) AS top_bigram_ratio,
       (ROUND(dup_words / greatest(word_count, 1), 6) <= 0.9
        AND ROUND(top_word / greatest(word_count, 1), 6) <= 0.3
        AND ROUND(top_bigram / greatest(bigram_count, 1), 6) <= 0.18) AS keep
FROM base
"""


# --- decontamination vs a benchmark set -----------------------------------
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram overlap of the corpus (source <> 'src0') against the
    benchmark slice (source = 'src0'); benchmark hashes broadcast
    (llm/curation.py::decontaminate)."""
    from dataintegration_ecomprovider_spark.llm.curation import decontaminate

    docs = Catalog(spark, sf_dir).table("documents")
    return decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
        threshold=0.05,
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global line dedup (llm/curation.py::line_dedup, the C4 /
    RefinedWeb boilerplate pass).  The synthetic docs carry no newlines,
    so the query builds a deterministic line structure: body + a COOKIE
    BANNER shared by every doc (must be removed everywhere) + a short
    per-doc tail (below the candidate length, always kept).  Bodies
    removed only where the corpus contains exact-duplicate documents."""
    from dataintegration_ecomprovider_spark.llm.curation import line_dedup

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nCOOKIE BANNER: accept tracking to continue reading\ndoc-"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = line_dedup(corpus, min_count=2, min_line_chars=16)
    return out.select("doc_id", F.md5("text").alias("text_md5"), "n_removed")


ORACLE_LINE_DEDUP = """
WITH corpus AS (
  SELECT doc_id,
         text || chr(10) || 'COOKIE BANNER: accept tracking to continue reading'
              || chr(10) || 'doc-' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS idx,
         unnest(string_split(text, chr(10))) AS ln
  FROM corpus
),
dups AS (
  SELECT ln FROM lines WHERE len(ln) >= 16 GROUP BY ln HAVING COUNT(*) >= 2
),
kept AS (
  SELECT doc_id, idx, ln FROM lines
  WHERE NOT (len(ln) >= 16 AND ln IN (SELECT ln FROM dups))
),
rebuilt AS (
  SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id)
SELECT t.doc_id,
       md5(COALESCE(r.text, '')) AS text_md5,
       CAST(t.n_total - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


def q_decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 64-char-substring decontamination of the corpus against the
    src0 benchmark slice (llm/curation.py::decontaminate_exact) — the
    verbatim-leak check the n-gram Jaccard form can miss; benchmark
    windows broadcast, corpus windows probed map-side."""
    from dataintegration_ecomprovider_spark.llm.curation import decontaminate_exact

    docs = Catalog(spark, sf_dir).table("documents")
    return decontaminate_exact(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        window=64,
    )


ORACLE_DECONTAMINATE_EXACT = """
WITH win AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(text) - 63, 0) + 1),
           i -> substr(text, i, 64))) AS ws
  FROM documents
  WHERE len(text) >= 64
),
bench AS (SELECT DISTINCT unnest(ws) AS w FROM win WHERE source = 'src0'),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM (SELECT doc_id, unnest(ws) AS w FROM win WHERE source <> 'src0')
  WHERE w IN (SELECT w FROM bench)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
LEFT JOIN hits h USING (doc_id)
"""


ORACLE_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 0) + 1),
           i -> {md5_int60_sql("array_to_string(w[i:i+2], ' ')")})) AS shingles
  FROM (SELECT doc_id, source,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS w
        FROM documents)
),
bench AS (SELECT DISTINCT unnest(shingles) AS h FROM sh WHERE source = 'src0'),
corpus AS (SELECT doc_id, shingles FROM sh WHERE source <> 'src0'),
totals AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles FROM corpus),
overlap AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM (SELECT doc_id, unnest(shingles) AS h FROM corpus)
  WHERE h IN (SELECT h FROM bench)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(o.n_overlap, 0) / greatest(t.n_shingles, 1), 6)
         AS overlap_ratio,
       (ROUND(COALESCE(o.n_overlap, 0) / greatest(t.n_shingles, 1), 6) >= 0.05)
         AS contaminated
FROM totals t LEFT JOIN overlap o ON t.doc_id = o.doc_id
"""


def q_decontaminate_incremental_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination as a PERSISTED, CDC-MAINTAINED index (round 8,
    llm/curation.py): corpus shingles and benchmark shingles are two
    maintained (h, id) tables; `contamination` is a chained view over
    BOTH change feeds, so adding a NEW benchmark re-scores only the docs
    holding its shingles (one index probe) and corpus churn re-scores
    only changed docs — never a per-call benchmark re-broadcast over
    re-shingled text.  Lifecycle: seed (corpus = doc_id % 3 ≠ 0,
    benchmarks = src0 ∩ doc_id % 3 = 0) → ADD benchmarks copying the
    original text of corpus docs ≡ 1 (mod 11) → corpus churn (delete
    ≡ 3 mod 13, rewrite ≡ 4 mod 17 to a clean marker) → refresh →
    return the contamination table, which must equal a from-scratch
    decontaminate() over the final state (the oracle recomputes it with
    the portable md5 shingle family)."""
    from dataintegration_ecomprovider_spark.llm import curation
    from dataintegration_ecomprovider_spark.plans import publish

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    bench = (
        docs.filter((F.col("source") == "src0") & (F.col("doc_id") % 3 == 0))
        .select(F.col("doc_id").alias("bench_id"), "text")
    )
    root = _scratch_store_root("decon")
    publish.publish_tables(
        spark, {"documents": corpus, "benchmarks": bench}, root,
        table_keys={"documents": ["doc_id"], "benchmarks": ["bench_id"]},
    )
    maintainers = (
        curation.maintain_corpus_shingles,
        curation.maintain_benchmark_shingles,
        curation.maintain_contamination,
    )
    for fn in maintainers:
        res = fn(spark, root)
        assert res["mode"] == "seed", res
    # new eval set: verbatim corpus texts — the index probe must re-flag
    # exactly the docs containing these shingles
    new_bench = corpus.filter(F.col("doc_id") % 11 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("bench_id"), "text"
    )
    publish.merge_into_mor(spark, root, "benchmarks", new_bench)
    # corpus churn in the same span
    cur = publish.read_table(spark, root, "documents")
    updated = cur.filter(
        (F.col("doc_id") % 17 == 4) & (F.col("doc_id") % 13 != 3)
    ).withColumn("text", F.lit("fresh unseen vocabulary entirely clean"))
    deleted = cur.filter(F.col("doc_id") % 13 == 3).select("doc_id")
    publish.merge_into_mor(spark, root, "documents", updated, deletes=deleted)
    for fn in maintainers:
        res = fn(spark, root)
        assert res["mode"] == "delta", res
    return publish.read_table(spark, root, "contamination")


ORACLE_DECONTAMINATE_INCREMENTAL = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 4
              THEN 'fresh unseen vocabulary entirely clean'
              ELSE text END AS text
  FROM documents
  WHERE doc_id % 3 <> 0 AND doc_id % 13 <> 3
),
bench_docs AS (
  SELECT text FROM documents WHERE source = 'src0' AND doc_id % 3 = 0
  UNION ALL
  SELECT text FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 11 = 1
),
csh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 0) + 1),
           i -> {md5_int60_sql("array_to_string(w[i:i+2], ' ')")})) AS shingles
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS w
        FROM corpus)
),
bsh AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 0) + 1),
           i -> {md5_int60_sql("array_to_string(w[i:i+2], ' ')")}))) AS h
  FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS w
        FROM bench_docs)
),
totals AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles
  FROM csh WHERE len(shingles) >= 1
),
overlap AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM (SELECT doc_id, unnest(shingles) AS h FROM csh)
  WHERE h IN (SELECT h FROM bsh)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(o.n_overlap, 0) / greatest(t.n_shingles, 1), 6)
         AS overlap_ratio,
       (ROUND(COALESCE(o.n_overlap, 0) / greatest(t.n_shingles, 1), 6) >= 0.05)
         AS contaminated
FROM totals t LEFT JOIN overlap o ON t.doc_id = o.doc_id
"""


# --- end-to-end curation pipeline (round 6) --------------------------------
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline END-TO-END as ONE declarative
    plan (round 6): per-language quality-quantile gate → exact dedup
    (first-wins) → 3-gram decontamination against the benchmark slice →
    deterministic shard assignment for export.  Every stage is an
    already-oracle-checked component; composing them in one DataFrame
    expression lets Catalyst optimize ACROSS stages — the corpus parquet
    is scanned once per consuming subtree with column pruning, the
    per-lang cutoffs and benchmark shingle set broadcast, and the only
    wide exchanges are the quantile agg, the dedup groupBy, the overlap
    count, and the final semi joins on doc_id.  Scale shape: nothing in
    the plan materializes the corpus on the driver or self-joins it;
    100 TB in, each stage's reduction feeds the next map-side.
    Reference analog: chained transform scripting + dedup + integrity
    filters feeding an export (SURVEY §2 P7/E13/J17 composed)."""
    from dataintegration_ecomprovider_spark.llm.curation import decontaminate
    from dataintegration_ecomprovider_spark.llm.export import shard_assign
    from dataintegration_ecomprovider_spark.llm.sampling import (
        quality_filter_by_quantile,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    # 1. drop each language's worst word-count quartile (cutoffs broadcast)
    q = quality_filter_by_quantile(
        corpus, text_ops.n_words(F.col("text")), "lang", quantile=0.25
    )
    # 2. exact dedup, first-wins: one md5 groupBy, survivors semi-joined
    canon = q.groupBy(F.md5("text").alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dd = q.join(canon.select("doc_id"), "doc_id", "left_semi")
    # 3. decontamination: benchmark shingle hashes broadcast, keep clean
    clean = (
        decontaminate(dd, bench, n=3, threshold=0.05)
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    kept = dd.join(clean, "doc_id", "left_semi")
    # 4. deterministic md5 shard assignment (stable across runs/engines)
    return shard_assign(
        kept.select(
            "doc_id", "lang", text_ops.n_words(F.col("text")).alias("word_count")
        ),
        8,
    ).select("doc_id", "lang", "word_count", "shard")


_WC_SQL = """CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END"""

ORACLE_CURATION_PIPELINE = f"""
WITH corpus AS (
  SELECT doc_id, lang, text, {_WC_SQL} AS wc
  FROM documents WHERE source <> 'src0'
),
cut AS (SELECT lang, quantile_cont(wc, 0.25) AS cutoff FROM corpus GROUP BY lang),
q AS (SELECT c.* FROM corpus c JOIN cut USING (lang) WHERE wc >= cutoff),
canon AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
dd AS (SELECT q.* FROM q JOIN canon USING (doc_id)),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 0) + 1),
           i -> {md5_int60_sql("array_to_string(w[i:i+2], ' ')")})) AS shingles
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS w
        FROM dd)
),
bench AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 0) + 1),
           i -> {md5_int60_sql("array_to_string(w[i:i+2], ' ')")}))) AS h
  FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS w
        FROM documents WHERE source = 'src0')
),
overlap AS (
  SELECT doc_id, COUNT(*) AS n_ov
  FROM (SELECT doc_id, unnest(shingles) AS h FROM sh)
  WHERE h IN (SELECT h FROM bench)
  GROUP BY doc_id
),
clean AS (
  SELECT s.doc_id
  FROM sh s LEFT JOIN overlap o USING (doc_id)
  WHERE ROUND(COALESCE(o.n_ov, 0) / greatest(len(s.shingles), 1), 6) < 0.05
)
SELECT d.doc_id, d.lang, CAST(d.wc AS BIGINT) AS word_count,
       CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 8
         AS shard
FROM dd d JOIN clean USING (doc_id)
"""


# --- PII scrub ------------------------------------------------------------
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count + redact synthetic PII.  The fixture corpus carries no PII,
    so the query deterministically augments each doc with an email / IP /
    phone derived from doc_id, then scrubs — exercising count and
    replacement against non-trivial input on both engines
    (llm/curation.py::pii_scrub)."""
    from dataintegration_ecomprovider_spark.llm.curation import pii_scrub

    docs = Catalog(spark, sf_dir).table("documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    cols = pii_scrub(aug)
    return docs.select(
        "doc_id",
        cols["n_emails"].alias("n_emails"),
        cols["n_ipv4"].alias("n_ipv4"),
        cols["n_phones"].alias("n_phones"),
        F.md5(cols["redacted"]).alias("redacted_md5"),
    )


ORACLE_PII_SCRUB = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t,
         '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
FROM aug
"""


def q_training_shards_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC-MAINTAINED training export (round 8, llm/export.py::
    maintain_training_shards): the parquet shard directory mirrors a
    store table; a churn commit (updates + inserts + deletes) refreshes
    ONLY the shards holding changed docs — the rewrite derives from the
    existing shard files (old content − changed ids + upserts), never a
    corpus re-scan.  The query runs the lifecycle (seed export → churn →
    delta refresh, modes asserted in-query) and returns the export's
    content with its shard assignment; the oracle recomputes the final
    corpus state and the portable md5 shard formula from scratch."""
    import os as _os

    from dataintegration_ecomprovider_spark.llm import export
    from dataintegration_ecomprovider_spark.plans import publish

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    root = _scratch_store_root("shardx_store")
    path = _os.path.join(root, "export")
    publish.publish_tables(
        spark, {"documents": corpus}, root,
        table_keys={"documents": ["doc_id"]},
    )
    rep = export.maintain_training_shards(spark, root, path, num_shards=8)
    if rep["mode"] != "seed":
        raise AssertionError(rep)
    updated = corpus.filter(F.col("doc_id") % 10 == 0).withColumn(
        "text", F.concat(F.lit("u:"), F.col("text"))
    )
    inserts = docs.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 5 == 0)
    )
    deletes = corpus.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    publish.merge_into_mor(
        spark, root, "documents", updated.unionByName(inserts),
        deletes=deletes,
    )
    rep = export.maintain_training_shards(spark, root, path, num_shards=8)
    if rep["mode"] != "delta" or not rep["affected_shards"]:
        raise AssertionError(rep)
    shard_dirs = [
        _os.path.join(path, d)
        for d in _os.listdir(path)
        if d.startswith("shard=") and ".old-" not in d
        and any(not f.startswith(("_", "."))
                for f in _os.listdir(_os.path.join(path, d)))
    ]
    return export.shard_assign(spark.read.parquet(*shard_dirs), 8)


ORACLE_TRAINING_SHARDS_INCREMENTAL = """
WITH final AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN 'u:' || text ELSE text END AS text
  FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3
  UNION ALL
  SELECT doc_id, text FROM documents
  WHERE doc_id % 2 = 1 AND doc_id % 5 = 0
)
SELECT doc_id, text,
       CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
            AS INTEGER) % 8 AS shard
FROM final
"""


# --- BPE tokenizer training (round 10, llm/bpe.py) -------------------------
_BPE_MERGES = 12


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (Sennrich 2016 / the GPT-2
    tokenizer's training procedure, llm/bpe.py): the corpus collapses
    ONCE into a (word, freq) vocabulary table, then every merge
    iteration is one declarative aggregation over THAT table (explode
    adjacent symbol pairs weighted by word freq → argmax with a total
    tie-break) plus one literal string replace — no UDFs, no Python in
    the loop body.  The tie-break (count DESC, lft ASC, rgt ASC — binary
    string order in both engines) makes training deterministic, so the
    DuckDB oracle REPLAYS all 12 iterations as a chain of materialized
    SQL CTEs."""
    from dataintegration_ecomprovider_spark.llm import bpe

    docs = Catalog(spark, sf_dir).table("documents")
    merges = bpe.train(
        bpe.word_frequencies(docs), num_merges=_BPE_MERGES, strict=True
    )
    return bpe.merges_df(spark, merges)


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the merges trained on it: applying a
    trained tokenizer is a chain of literal replaces over each
    document's delimited symbol string — ONE corpus scan, zero
    shuffles, whole-stage codegen end to end (the merge table is
    driver-resident by construction: num_merges rows)."""
    from dataintegration_ecomprovider_spark.llm import bpe

    docs = Catalog(spark, sf_dir).table("documents")
    merges = bpe.train(
        bpe.word_frequencies(docs), num_merges=_BPE_MERGES, strict=True
    )
    # guide §2.5: the encode pass is row-wise (heavy replace chain per
    # doc) over a single-file scan — spread it across cores (per-doc
    # output rows are order-insensitive; no-op at scale)
    return runtime.spread_scan(docs).select(
        "doc_id",
        F.size(bpe.word_tokens(F.col("text"))).cast("bigint").alias("n_words"),
        bpe.token_count(F.col("text"), merges).alias("n_tokens"),
    )


# The oracle replays training: w0 = the (word, freq) vocabulary as
# delimited symbol strings; p_i = the argmax pair at rank i; w_i = w_{i-1}
# with merge i applied via the SAME literal replace Spark uses.  Every
# chained CTE is MATERIALIZED — each level is referenced twice (p_i and
# w_i both read w_{i-1}), so plain inlining would expand 2^merges copies.
_BPE_WORDS_CTE = """w0 AS MATERIALIZED (
  SELECT chr(31) || array_to_string(list_append(
           list_transform(range(1, length(word) + 1), i -> word[i:i]),
           chr(23)), chr(31) || chr(31)) || chr(31) AS sym,
         freq
  FROM (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+')) AS word
          FROM documents)
    WHERE word <> '' AND strpos(word, chr(31)) = 0 AND strpos(word, chr(23)) = 0
    GROUP BY word
  )
)"""

_BPE_PAIR_PAT = "chr(31) || p.lft || chr(31) || chr(31) || p.rgt || chr(31)"
_BPE_PAIR_REP = "chr(31) || p.lft || p.rgt || chr(31)"


def _bpe_pair_cte(i: int) -> str:
    return f"""p{i} AS MATERIALIZED (
  SELECT lft, rgt, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT list_extract(s, i) AS lft, list_extract(s, i + 1) AS rgt, freq
    FROM (
      SELECT s, freq, unnest(range(1, len(s))) AS i
      FROM (SELECT string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS s, freq
            FROM w{i - 1})
    )
  )
  GROUP BY lft, rgt
  ORDER BY cnt DESC, lft ASC, rgt ASC
  LIMIT 1
)"""


def _bpe_merge_cte(i: int) -> str:
    return f"""w{i} AS MATERIALIZED (
  SELECT replace(w.sym, {_BPE_PAIR_PAT}, {_BPE_PAIR_REP}) AS sym, w.freq
  FROM w{i - 1} w CROSS JOIN p{i} p
)"""


def _bpe_train_ctes(n: int) -> list[str]:
    ctes = [_BPE_WORDS_CTE]
    for i in range(1, n + 1):
        ctes.append(_bpe_pair_cte(i))
        if i < n:
            ctes.append(_bpe_merge_cte(i))
    return ctes


def _bpe_train_oracle(n: int) -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS rank, lft, rgt, lft || rgt AS token,"
        f" cnt AS pair_freq FROM p{i}"
        for i in range(1, n + 1)
    )
    return "WITH " + ",\n".join(_bpe_train_ctes(n)) + "\n" + finals


def _bpe_encode_oracle(n: int) -> str:
    ctes = _bpe_train_ctes(n)
    ctes.append("""enc0 AS MATERIALIZED (
  SELECT doc_id,
         array_to_string(list_transform(words,
            w -> chr(31) || array_to_string(list_append(
                   list_transform(range(1, length(w) + 1), i -> w[i:i]),
                   chr(23)), chr(31) || chr(31)) || chr(31)), ' ') AS s,
         len(words) AS n_words
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                       w -> w <> '' AND strpos(w, chr(31)) = 0
                            AND strpos(w, chr(23)) = 0) AS words
    FROM documents
  )
)""")
    for i in range(1, n + 1):
        ctes.append(f"""enc{i} AS MATERIALIZED (
  SELECT e.doc_id, replace(e.s, {_BPE_PAIR_PAT}, {_BPE_PAIR_REP}) AS s, e.n_words
  FROM enc{i - 1} e CROSS JOIN p{i} p
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_words + (length(s) - length(replace(s, chr(31) || chr(31), chr(31))))
            AS BIGINT) AS n_tokens
FROM enc{n}"""
    )


ORACLE_BPE_TRAIN = _bpe_train_oracle(_BPE_MERGES)
ORACLE_BPE_TOKEN_COUNTS = _bpe_encode_oracle(_BPE_MERGES)


# --- tokenizer vocabulary + id encoding (round 11, llm/bpe.py) --------------
_BPE_IDS_MAX_DOC = 40


def q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-ID encoding under the id-stable vocabulary (round 11 — the
    r10 verdict's 'BPE production artifacts' item): bpe.vocab numbers
    reserved specials, then the corpus's base character symbols + EOW
    (binary-sorted), then merge tokens in rank order — first writer wins
    on surface-form collisions — and token_id_rows maps each document to
    (doc_id, pos, token_id) via ONE broadcast join of the exploded token
    stream against the vocabulary (no corpus-side shuffle).  The oracle
    re-derives the vocabulary AND the full encode chain in SQL and joins
    the same way.  Dropped-word contract: words containing SEP/EOW
    appear in no id sequence."""
    from dataintegration_ecomprovider_spark.llm import bpe

    docs = Catalog(spark, sf_dir).table("documents")
    words = bpe.word_frequencies(docs)
    merges = bpe.train(words, num_merges=_BPE_MERGES, strict=True)
    voc = bpe.vocab(words, merges)
    return bpe.token_id_rows(
        docs.filter(F.col("doc_id") < _BPE_IDS_MAX_DOC), merges, voc
    )


def _bpe_encode_ids_oracle(
    n: int, max_doc: int, specials: tuple[str, ...] = ("<unk>",)
) -> str:
    ctes = _bpe_train_ctes(n)
    ctes.append(f"""enc0 AS MATERIALIZED (
  SELECT doc_id,
         array_to_string(list_transform(words,
            w -> chr(31) || array_to_string(list_append(
                   list_transform(range(1, length(w) + 1), i -> w[i:i]),
                   chr(23)), chr(31) || chr(31)) || chr(31)), ' ') AS s
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                       w -> w <> '' AND strpos(w, chr(31)) = 0
                            AND strpos(w, chr(23)) = 0) AS words
    FROM documents WHERE doc_id < {max_doc}
  )
)""")
    for i in range(1, n + 1):
        ctes.append(f"""enc{i} AS MATERIALIZED (
  SELECT e.doc_id, replace(e.s, {_BPE_PAIR_PAT}, {_BPE_PAIR_REP}) AS s
  FROM enc{i - 1} e CROSS JOIN p{i} p
)""")
    specials_vals = ", ".join(
        f"({i}, '{s}', 'special')" for i, s in enumerate(specials)
    )
    all_merges = "\n      UNION ALL\n      ".join(
        f"SELECT {i} AS rank, lft || rgt AS token FROM p{i}"
        for i in range(1, n + 1)
    )
    # vocabulary: specials (input order) -> chars + EOW (binary sort) ->
    # merges (rank order); first writer wins on token collisions — the
    # exact bpe.vocab construction
    ctes.append(f"""train_words AS MATERIALIZED (
  SELECT DISTINCT word
  FROM (SELECT unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' AND strpos(word, chr(31)) = 0 AND strpos(word, chr(23)) = 0
)""")
    ctes.append(f"""vocab AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY prio, ord2, token) - 1 AS BIGINT)
           AS token_id,
         token, kind
  FROM (
    SELECT token, kind, prio, ord2
    FROM (
      SELECT token, kind, 0 AS prio, ord2
      FROM (VALUES {specials_vals}) t(ord2, token, kind)
      UNION ALL
      SELECT token, 'char' AS kind, 1 AS prio, 0 AS ord2
      FROM (
        SELECT DISTINCT word[i:i] AS token
        FROM (SELECT word, unnest(range(1, length(word) + 1)) AS i
              FROM train_words)
        UNION
        SELECT chr(23)
      )
      UNION ALL
      SELECT token, 'merge' AS kind, 2 AS prio, rank AS ord2
      FROM ({all_merges})
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY token ORDER BY prio, ord2) = 1
  )
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
wsplit AS (SELECT doc_id, string_split(s, ' ') AS ws FROM enc{n}),
words_pos AS (
  SELECT doc_id, wi,
         string_split(trim(list_extract(ws, wi), chr(31)),
                      chr(31) || chr(31)) AS syms
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS wi FROM wsplit)
  WHERE list_extract(ws, wi) <> ''
),
tok AS (
  SELECT doc_id, wi, ti, list_extract(syms, ti) AS token
  FROM (SELECT doc_id, wi, syms, unnest(range(1, len(syms) + 1)) AS ti
        FROM words_pos)
),
pos_tok AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wi, ti) - 1
              AS INT) AS pos,
         token
  FROM tok
)
SELECT p.doc_id, p.pos,
       COALESCE(v.token_id,
                (SELECT MIN(token_id) FROM vocab WHERE kind = 'special'))
         AS token_id
FROM pos_tok p LEFT JOIN vocab v ON v.token = p.token"""
    )


ORACLE_BPE_ENCODE_IDS = _bpe_encode_ids_oracle(_BPE_MERGES, _BPE_IDS_MAX_DOC)


# --- bigram-LM perplexity scoring (round 10, llm/lm.py) ---------------------
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (llm/lm.py): train a bigram stupid-
    backoff model on the English slice, score EVERY document's tokens
    against it (avg log score + perplexity).  Per-position log scores
    quantize to integer micro-nats before aggregation, so the Spark and
    DuckDB sums are exact and order-free — the only compared floats are
    one division + round per document."""
    from dataintegration_ecomprovider_spark.llm import lm

    docs = Catalog(spark, sf_dir).table("documents")
    model = lm.train_bigram_lm(docs.filter(F.col("lang") == "en"))
    return lm.score_documents(docs, model)


ORACLE_LM_PERPLEXITY = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     w -> w <> '') AS ws
  FROM documents
),
train_big AS MATERIALIZED (
  SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT list_extract(ws, i) AS prev, list_extract(ws, i + 1) AS w
    FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM toks WHERE lang = 'en')
  )
  GROUP BY prev, w
),
ctx AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS ccnt FROM train_big GROUP BY prev),
uni AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS ucnt
  FROM (SELECT unnest(ws) AS w FROM toks WHERE lang = 'en')
  GROUP BY w
),
stats AS (
  SELECT CAST(SUM(ucnt) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS vocab
  FROM uni
),
pos AS (
  SELECT doc_id, list_extract(ws, i) AS prev, list_extract(ws, i + 1) AS w
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks)
),
scored AS (
  SELECT p.doc_id,
         CAST(ROUND((CASE WHEN b.cnt IS NOT NULL
                          THEN ln(b.cnt) - ln(c.ccnt)
                          ELSE ln(0.4) + (ln(coalesce(u.ucnt, 0) + 1)
                               - ln(s.n_total + s.vocab)) END) * 1000000.0, 0)
              AS BIGINT) AS micro
  FROM pos p
  LEFT JOIN train_big b ON b.prev = p.prev AND b.w = p.w
  LEFT JOIN ctx c ON c.prev = p.prev
  LEFT JOIN uni u ON u.w = p.w
  CROSS JOIN stats s
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(micro) AS BIGINT) AS sm
  FROM scored GROUP BY doc_id
),
fin AS (
  -- round-half-away in exact int64, then one exact division by 1e6:
  -- matches lm._finalize bit for bit (see its docstring)
  SELECT doc_id, n_scored,
         (CASE WHEN sm < 0 THEN -((2 * (-sm) + n_scored) // (2 * n_scored))
               ELSE (2 * sm + n_scored) // (2 * n_scored) END)
           / 1000000.0 AS avg_logprob
  FROM agg
)
SELECT doc_id, n_scored, avg_logprob, ROUND(exp(-avg_logprob), 3) AS ppl
FROM fin
"""


# --- trigram-LM perplexity scoring (round 11, llm/lm.py) --------------------
def q_lm_perplexity_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 stupid-backoff LM scoring (llm/lm.py::train_trigram_lm +
    score_documents_trigram — the round-10 verdict's CCNet-quality step
    toward KenLM-grade filtering): position i >= 3 scores against a
    two-word context (trigram → 0.4·bigram → 0.4²·unigram-floor),
    position 2 against one word, so n_scored = len-1 exactly like the
    bigram query.  The micro-nat integer quantization carries over
    unchanged — the oracle adds one trigram count CTE, one context CTE,
    and one more CASE branch."""
    from dataintegration_ecomprovider_spark.llm import lm

    docs = Catalog(spark, sf_dir).table("documents")
    model = lm.train_trigram_lm(docs.filter(F.col("lang") == "en"))
    return lm.score_documents_trigram(docs, model)


ORACLE_LM_PERPLEXITY_TRIGRAM = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     w -> w <> '') AS ws
  FROM documents
),
train_big AS MATERIALIZED (
  SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT list_extract(ws, i) AS prev, list_extract(ws, i + 1) AS w
    FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM toks WHERE lang = 'en')
  )
  GROUP BY prev, w
),
ctx AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS ccnt FROM train_big GROUP BY prev),
uni AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS ucnt
  FROM (SELECT unnest(ws) AS w FROM toks WHERE lang = 'en')
  GROUP BY w
),
stats AS (
  SELECT CAST(SUM(ucnt) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS vocab
  FROM uni
),
train_tri AS MATERIALIZED (
  SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS tcnt
  FROM (
    SELECT list_extract(ws, i) AS u, list_extract(ws, i + 1) AS v,
           list_extract(ws, i + 2) AS w
    FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM toks WHERE lang = 'en')
  )
  GROUP BY u, v, w
),
ctx2 AS (
  SELECT u, v, CAST(SUM(tcnt) AS BIGINT) AS c2cnt FROM train_tri GROUP BY u, v
),
pos2 AS (
  SELECT doc_id, list_extract(ws, 1) AS prev, list_extract(ws, 2) AS w
  FROM toks WHERE len(ws) >= 2
),
pos3 AS (
  SELECT doc_id, list_extract(ws, i) AS u, list_extract(ws, i + 1) AS v,
         list_extract(ws, i + 2) AS w
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM toks)
),
scored2 AS (
  SELECT p.doc_id,
         CAST(ROUND((CASE WHEN b.cnt IS NOT NULL
                          THEN ln(b.cnt) - ln(c.ccnt)
                          ELSE ln(0.4) + (ln(coalesce(u.ucnt, 0) + 1)
                               - ln(s.n_total + s.vocab)) END) * 1000000.0, 0)
              AS BIGINT) AS micro
  FROM pos2 p
  LEFT JOIN train_big b ON b.prev = p.prev AND b.w = p.w
  LEFT JOIN ctx c ON c.prev = p.prev
  LEFT JOIN uni u ON u.w = p.w
  CROSS JOIN stats s
),
scored3 AS (
  SELECT p.doc_id,
         CAST(ROUND((CASE WHEN t.tcnt IS NOT NULL
                          THEN ln(t.tcnt) - ln(c2.c2cnt)
                          WHEN b.cnt IS NOT NULL
                          THEN ln(0.4) + ln(b.cnt) - ln(c.ccnt)
                          ELSE 2.0 * ln(0.4) + (ln(coalesce(u.ucnt, 0) + 1)
                               - ln(s.n_total + s.vocab)) END) * 1000000.0, 0)
              AS BIGINT) AS micro
  FROM pos3 p
  LEFT JOIN train_tri t ON t.u = p.u AND t.v = p.v AND t.w = p.w
  LEFT JOIN ctx2 c2 ON c2.u = p.u AND c2.v = p.v
  LEFT JOIN train_big b ON b.prev = p.v AND b.w = p.w
  LEFT JOIN ctx c ON c.prev = p.v
  LEFT JOIN uni u ON u.w = p.w
  CROSS JOIN stats s
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(micro) AS BIGINT) AS sm
  FROM (SELECT * FROM scored2 UNION ALL SELECT * FROM scored3)
  GROUP BY doc_id
),
fin AS (
  -- round-half-away in exact int64, then one exact division by 1e6:
  -- matches lm._finalize bit for bit (see its docstring)
  SELECT doc_id, n_scored,
         (CASE WHEN sm < 0 THEN -((2 * (-sm) + n_scored) // (2 * n_scored))
               ELSE (2 * sm + n_scored) // (2 * n_scored) END)
           / 1000000.0 AS avg_logprob
  FROM agg
)
SELECT doc_id, n_scored, avg_logprob, ROUND(exp(-avg_logprob), 3) AS ppl
FROM fin
"""


# --- generic order-N LM scoring (round 11, llm/lm.py) -----------------------
def q_lm_perplexity_5gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-5 stupid-backoff LM scoring — the KenLM order CCNet-grade
    filters actually use (Wenzek et al. 2020) — via the generic
    train_ngram_lm / score_documents_ngram (llm/lm.py): one (k-gram
    count, prefix-context) table pair per order k ≤ 5, position i
    scoring against its min(i−1, 4)-word context, longest-seen-suffix
    backoff with one 0.4 factor per shortened level, micro-nat integer
    quantization.  Orders 2 and 3 of the same engine reproduce the
    dedicated bigram/trigram scorers exactly (pytest); the oracle here
    is GENERATED for order 5 by the same rules that generated the
    trigram oracle."""
    from dataintegration_ecomprovider_spark.llm import lm

    docs = Catalog(spark, sf_dir).table("documents")
    model = lm.train_ngram_lm(docs.filter(F.col("lang") == "en"), order=5)
    return lm.score_documents_ngram(docs, model)


def _ngram_oracle(order: int) -> str:
    """DuckDB replay of train_ngram_lm + score_documents_ngram at
    ``order`` — the trigram oracle's construction generalized: one
    (g{k}, c{k}) CTE pair per order, one scored frame per context
    length (head positions 2..order-1 + the sliding full-context
    frame), CASE chain from longest suffix to the unigram floor."""
    ctes = ["""toks AS MATERIALIZED (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     w -> w <> '') AS ws
  FROM documents
)"""]
    for k in range(2, order + 1):
        cols = ", ".join(f"w{j}" for j in range(1, k + 1))
        sels = ", ".join(
            f"list_extract(ws, i + {j - 1}) AS w{j}" for j in range(1, k + 1)
        )
        ctes.append(f"""g{k} AS MATERIALIZED (
  SELECT {cols}, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT {sels}
    FROM (SELECT ws, unnest(range(1, len(ws) - {k - 2})) AS i
          FROM toks WHERE lang = 'en')
  )
  GROUP BY {cols}
)""")
        pfx = ", ".join(f"w{j}" for j in range(1, k))
        ctes.append(
            f"c{k} AS (SELECT {pfx}, CAST(SUM(cnt) AS BIGINT) AS ccnt "
            f"FROM g{k} GROUP BY {pfx})"
        )
    ctes.append("""uni AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS ucnt
  FROM (SELECT unnest(ws) AS w FROM toks WHERE lang = 'en')
  GROUP BY w
)""")
    ctes.append("""stats AS (
  SELECT CAST(SUM(ucnt) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS vocab
  FROM uni
)""")

    def scored(k: int, sliding: bool) -> str:
        if sliding:
            gsel = ", ".join(
                f"list_extract(ws, i + {j - 1}) AS g{j}"
                for j in range(1, k + 1)
            )
            pos = (f"SELECT doc_id, {gsel} FROM (SELECT doc_id, ws, "
                   f"unnest(range(1, len(ws) - {k - 2})) AS i FROM toks)")
        else:
            gsel = ", ".join(
                f"list_extract(ws, {j}) AS g{j}" for j in range(1, k + 1)
            )
            pos = f"SELECT doc_id, {gsel} FROM toks WHERE len(ws) >= {k}"
        joins = []
        for m in range(2, k + 1):
            on_g = " AND ".join(
                f"t{m}.w{j + 1} = p.g{k - m + 1 + j}" for j in range(m)
            )
            joins.append(f"LEFT JOIN g{m} t{m} ON {on_g}")
            on_c = " AND ".join(
                f"x{m}.w{j + 1} = p.g{k - m + 1 + j}" for j in range(m - 1)
            )
            joins.append(f"LEFT JOIN c{m} x{m} ON {on_c}")
        cases = []
        for m in range(k, 1, -1):
            pen = "" if m == k else f"{float(k - m)} * ln(0.4) + "
            cases.append(
                f"WHEN t{m}.cnt IS NOT NULL THEN "
                f"{pen}ln(t{m}.cnt) - ln(x{m}.ccnt)"
            )
        # parenthesized to match score_documents_ngram's association
        # EXACTLY — pen + (ln(u+1) − ln(N+V)) — the micro-nat rounding
        # is last-ulp-sensitive to the summation order
        floor = (
            f"{float(k - 1)} * ln(0.4) + (ln(coalesce(u.ucnt, 0) + 1) "
            "- ln(s.n_total + s.vocab))"
        )
        return (
            f"SELECT p.doc_id, CAST(ROUND((CASE {' '.join(cases)} "
            f"ELSE {floor} END) * 1000000.0, 0) AS BIGINT) AS micro\n"
            f"  FROM ({pos}) p\n  "
            + "\n  ".join(joins)
            + f"\n  LEFT JOIN uni u ON u.w = p.g{k}\n  CROSS JOIN stats s"
        )

    frames = [scored(k, sliding=False) for k in range(2, order)]
    frames.append(scored(order, sliding=True))
    union = "\nUNION ALL\n".join(frames)
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
scored AS ({union}),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(micro) AS BIGINT) AS sm
  FROM scored GROUP BY doc_id
),
fin AS (
  -- round-half-away in exact int64, then one exact division by 1e6:
  -- matches lm._finalize bit for bit (see its docstring)
  SELECT doc_id, n_scored,
         (CASE WHEN sm < 0 THEN -((2 * (-sm) + n_scored) // (2 * n_scored))
               ELSE (2 * sm + n_scored) // (2 * n_scored) END)
           / 1000000.0 AS avg_logprob
  FROM agg
)
SELECT doc_id, n_scored, avg_logprob, ROUND(exp(-avg_logprob), 3) AS ppl
FROM fin"""
    )


ORACLE_LM_PERPLEXITY_5GRAM = _ngram_oracle(5)


# --- interpolated Kneser-Ney LM scoring (round 12, llm/lm.py) ---------------
def q_lm_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 interpolated Kneser-Ney scoring (Chen & Goodman 1999;
    KenLM's estimation pipeline per Heafield 2011 builds the same
    tables): regular counts at the top level of each chain, CONTINUATION
    counts below, per-level discounts D = n1/(n1+2·n2) from
    count-of-counts, uniform 1/(V+1) OOV floor.  Stupid backoff stays
    the scale default (train_ngram_lm smoothing='sbo'); this grades the
    quality option end to end.  The oracle is GENERATED by the same
    rules (_kn_oracle) — a full independent DuckDB re-derivation of the
    model from raw parquet, per-level float association pinned."""
    from dataintegration_ecomprovider_spark.llm import lm

    docs = Catalog(spark, sf_dir).table("documents")
    model = lm.train_ngram_lm(
        docs.filter(F.col("lang") == "en"), order=3, smoothing="kn"
    )
    return lm.score_documents_ngram(docs, model)


def _kn_oracle(order: int, modified: bool = False) -> str:
    """DuckDB replay of train_kn_lm + score_documents_kn at ``order``:
    FULL regular count tables g{k} + (ccnt, n1p) context rollups rc{k},
    continuation tables cont{j} (from g{j+1} types) + (mid, n1c)
    rollups cctx{j}, a one-row kstats (vocab, unigram-continuation
    scalars, per-level discounts), then one scored frame per context
    length with the probability chain built in STAGED subqueries whose
    operation order matches the Spark scorer expression for expression:
    term + (weight)·lower, each one correctly-rounded IEEE op.

    ``modified=True`` replays the MODIFIED-KN variant (Chen & Goodman
    1999 §3): context rollups gain per-count-class type counts
    (nc1/nc2/nc3), kstats carries three discounts D1/D2/D3 per level
    (from n1..n4, the lm._mkn_discounts formulas with the same i/2
    fallbacks), and the chain subtracts the count-class discount and
    interpolates with (D1·N1 + D2·N2 + D3·N3+)/denom."""
    cls_cnt = (
        ", CAST(SUM(CASE WHEN {c} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc1"
        ", CAST(SUM(CASE WHEN {c} = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nc2"
        ", CAST(SUM(CASE WHEN {c} >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nc3"
    )
    ctes = ["""toks AS MATERIALIZED (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     w -> w <> '') AS ws
  FROM documents
)"""]
    for k in range(2, order + 1):
        cols = ", ".join(f"w{j}" for j in range(1, k + 1))
        sels = ", ".join(
            f"list_extract(ws, i + {j - 1}) AS w{j}" for j in range(1, k + 1)
        )
        ctes.append(f"""g{k} AS MATERIALIZED (
  SELECT {cols}, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT {sels}
    FROM (SELECT ws, unnest(range(1, len(ws) - {k - 2})) AS i
          FROM toks WHERE lang = 'en')
  )
  GROUP BY {cols}
)""")
        pfx = ", ".join(f"w{j}" for j in range(1, k))
        ctes.append(
            f"rc{k} AS (SELECT {pfx}, CAST(SUM(cnt) AS BIGINT) AS ccnt, "
            f"CAST(COUNT(*) AS BIGINT) AS n1p"
            + (cls_cnt.format(c="cnt") if modified else "")
            + f" FROM g{k} GROUP BY {pfx})"
        )
    for j in range(1, order):
        # continuation count of the j-gram = distinct left-extension
        # TYPES: each distinct (j+1)-gram contributes exactly one
        sel = ", ".join(f"w{i + 2} AS w{i + 1}" for i in range(j))
        grp = ", ".join(f"w{i + 2}" for i in range(j))
        ctes.append(
            f"cont{j} AS MATERIALIZED (SELECT {sel}, "
            f"CAST(COUNT(*) AS BIGINT) AS cc FROM g{j + 1} GROUP BY {grp})"
        )
        if j >= 2:
            pfx = ", ".join(f"w{i + 1}" for i in range(j - 1))
            ctes.append(
                f"cctx{j} AS (SELECT {pfx}, CAST(SUM(cc) AS BIGINT) AS mid, "
                f"CAST(COUNT(*) AS BIGINT) AS n1c"
                + (cls_cnt.format(c="cc") if modified else "")
                + f" FROM cont{j} GROUP BY {pfx})"
            )
    ctes.append("""uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS ucnt
  FROM (SELECT unnest(ws) AS w FROM toks WHERE lang = 'en')
  GROUP BY w
)""")
    ctes.append(
        "stats AS (SELECT CAST(SUM(ucnt) AS BIGINT) AS n_total, "
        "CAST(COUNT(*) AS BIGINT) AS vocab FROM uni)"
    )
    # one-row kstats.  Interpolated: D = n1/(n1 + 2*n2) per level (0.5
    # whenever n1 = 0 — D = 0 would zero out unseen-event mass; matches
    # lm._discount).  Modified: D1/D2/D3 per level from n1..n4 with the
    # i/2 fallbacks (matches lm._mkn_discounts — anchor count 0 or a
    # non-positive formula result).  Same bigint divisions both engines
    # perform as single IEEE ops.
    def _n1234(tbl: str, c: str) -> str:
        return ", ".join(
            f"CAST(SUM(CASE WHEN {c} = {i} THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n{i}"
            for i in (1, 2, 3, 4)
        ) + f" FROM {tbl}"

    def _mkn_block(tbl: str, c: str, sfx: str, alias: str) -> str:
        ds = []
        for i, (num, den) in enumerate([(2, 1), (3, 2), (4, 3)], start=1):
            raw = f"{i} - {i + 1} * y * n{num} / n{den}"
            ds.append(
                f"CASE WHEN n{den} > 0 AND ({raw}) > 0 THEN {raw} "
                f"ELSE {i / 2.0} END AS d{i}_{sfx}"
            )
        return (
            f"CROSS JOIN (SELECT {', '.join(ds)} FROM ("
            f"SELECT *, CASE WHEN n1 > 0 THEN n1 / (n1 + 2 * n2) "
            f"ELSE 0.5 END AS y FROM (SELECT {_n1234(tbl, c)}))) {alias}"
        )

    dj = []
    for k in range(2, order + 1):
        if modified:
            dj.append(_mkn_block(f"g{k}", "cnt", f"reg_{k}", f"dr{k}"))
        else:
            dj.append(
                f"CROSS JOIN (SELECT CASE WHEN n1 > 0 "
                f"THEN n1 / (n1 + 2 * n2) ELSE 0.5 END AS d_reg_{k} FROM ("
                f"SELECT {_n1234(f'g{k}', 'cnt')})) dr{k}"
            )
    for j in range(1, order):
        if modified:
            dj.append(_mkn_block(f"cont{j}", "cc", f"cont_{j}", f"dc{j}"))
        else:
            dj.append(
                f"CROSS JOIN (SELECT CASE WHEN n1 > 0 "
                f"THEN n1 / (n1 + 2 * n2) ELSE 0.5 END AS d_cont_{j} FROM ("
                f"SELECT {_n1234(f'cont{j}', 'cc')})) dc{j}"
            )
    c1_scalars = (
        "CROSS JOIN (SELECT CAST(SUM(cc) AS BIGINT) AS cc1tot, "
        "CAST(COUNT(*) AS BIGINT) AS n1c1"
        + (
            ", CAST(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1c1"
            ", CAST(SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m1c2"
            ", CAST(SUM(CASE WHEN cc >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m1c3"
            if modified else ""
        )
        + " FROM cont1) c1"
    )
    ctes.append(
        "kstats AS (SELECT * FROM (SELECT vocab FROM stats) s\n  "
        + c1_scalars + "\n  "
        + "\n  ".join(dj) + ")"
    )

    def scored(k: int, sliding: bool) -> str:
        if sliding:
            gsel = ", ".join(
                f"list_extract(ws, i + {j - 1}) AS g{j}"
                for j in range(1, k + 1)
            )
            pos = (f"SELECT doc_id, {gsel} FROM (SELECT doc_id, ws, "
                   f"unnest(range(1, len(ws) - {k - 2})) AS i FROM toks)")
        else:
            gsel = ", ".join(
                f"list_extract(ws, {j}) AS g{j}" for j in range(1, k + 1)
            )
            pos = f"SELECT doc_id, {gsel} FROM toks WHERE len(ws) >= {k}"
        sel = ["p.doc_id", "t.cnt AS cnt_top", "r.ccnt AS ctx_top",
               "r.n1p AS n1p_top", "ks.vocab", "ks.cc1tot", "ks.n1c1"]
        if modified:
            sel += [f"r.nc{i} AS nc{i}_top" for i in (1, 2, 3)]
            sel += [f"ks.d{i}_reg_{k}" for i in (1, 2, 3)]
            sel += ["ks.m1c1", "ks.m1c2", "ks.m1c3"]
        else:
            sel.append(f"ks.d_reg_{k}")
        joins = [
            "LEFT JOIN g%d t ON %s" % (
                k,
                " AND ".join(f"t.w{j + 1} = p.g{j + 1}" for j in range(k)),
            ),
            "LEFT JOIN rc%d r ON %s" % (
                k,
                " AND ".join(f"r.w{j + 1} = p.g{j + 1}" for j in range(k - 1)),
            ),
        ]
        for j in range(1, k):
            sel.append(f"c{j}.cc AS cc_{j}")
            if modified:
                sel += [f"ks.d{i}_cont_{j}" for i in (1, 2, 3)]
            else:
                sel.append(f"ks.d_cont_{j}")
            on_c = " AND ".join(
                f"c{j}.w{i + 1} = p.g{k - j + 1 + i}" for i in range(j)
            )
            joins.append(f"LEFT JOIN cont{j} c{j} ON {on_c}")
            if j >= 2:
                sel.append(f"x{j}.mid AS mid_{j}")
                sel.append(f"x{j}.n1c AS n1c_{j}")
                if modified:
                    sel += [f"x{j}.nc{i} AS nc{i}_{j}" for i in (1, 2, 3)]
                on_x = " AND ".join(
                    f"x{j}.w{i + 1} = p.g{k - j + 1 + i}" for i in range(j - 1)
                )
                joins.append(f"LEFT JOIN cctx{j} x{j} ON {on_x}")
        inner = (
            f"SELECT {', '.join(sel)}\n    FROM ({pos}) p\n    "
            + "\n    ".join(joins)
            + "\n    CROSS JOIN kstats ks"
        )

        def _d3(c_expr: str, sfx: str) -> str:
            # count-class discount, mirroring lm._disc3's when-chain
            return (
                f"(CASE WHEN {c_expr} = 1 THEN d1_{sfx} "
                f"WHEN {c_expr} = 2 THEN d2_{sfx} ELSE d3_{sfx} END)"
            )

        def _g3(sfx: str, c1: str, c2: str, c3: str, denom: str) -> str:
            # backoff mass, same left-assoc sum as lm._gamma3
            return (
                f"((d1_{sfx} * {c1} + d2_{sfx} * {c2} + d3_{sfx} * {c3}) "
                f"/ {denom})"
            )

        # staged probability chain — each stage one SELECT *, matching
        # the Spark expression's operation order exactly
        if modified:
            stage = (
                f"SELECT *, (GREATEST(coalesce(cc_1, 0) - "
                f"{_d3('coalesce(cc_1, 0)', 'cont_1')}, 0.0) "
                f"/ cc1tot) + {_g3('cont_1', 'm1c1', 'm1c2', 'm1c3', 'cc1tot')} "
                f"* (CAST(1.0 AS DOUBLE) / (vocab + 1)) AS p1 FROM ({inner})"
            )
        else:
            stage = (
                f"SELECT *, (GREATEST(coalesce(cc_1, 0) - d_cont_1, 0.0) "
                f"/ cc1tot) + ((d_cont_1 * n1c1) / cc1tot) "
                f"* (CAST(1.0 AS DOUBLE) / (vocab + 1)) AS p1 FROM ({inner})"
            )
        for j in range(2, k):
            if modified:
                stage = (
                    f"SELECT *, CASE WHEN mid_{j} IS NULL THEN p{j - 1} ELSE "
                    f"(GREATEST(coalesce(cc_{j}, 0) - "
                    f"{_d3(f'coalesce(cc_{j}, 0)', f'cont_{j}')}, 0.0) "
                    f"/ mid_{j}) + "
                    f"{_g3(f'cont_{j}', f'nc1_{j}', f'nc2_{j}', f'nc3_{j}', f'mid_{j}')} "
                    f"* p{j - 1} END AS p{j} FROM ({stage})"
                )
            else:
                stage = (
                    f"SELECT *, CASE WHEN mid_{j} IS NULL THEN p{j - 1} ELSE "
                    f"(GREATEST(coalesce(cc_{j}, 0) - d_cont_{j}, 0.0) "
                    f"/ mid_{j}) + ((d_cont_{j} * n1c_{j}) / mid_{j}) "
                    f"* p{j - 1} END AS p{j} FROM ({stage})"
                )
        if modified:
            stage = (
                f"SELECT *, CASE WHEN ctx_top IS NULL THEN p{k - 1} ELSE "
                f"(GREATEST(coalesce(cnt_top, 0) - "
                f"{_d3('coalesce(cnt_top, 0)', f'reg_{k}')}, 0.0) "
                f"/ ctx_top) + "
                f"{_g3(f'reg_{k}', 'nc1_top', 'nc2_top', 'nc3_top', 'ctx_top')} "
                f"* p{k - 1} END AS p{k} FROM ({stage})"
            )
        else:
            stage = (
                f"SELECT *, CASE WHEN ctx_top IS NULL THEN p{k - 1} ELSE "
                f"(GREATEST(coalesce(cnt_top, 0) - d_reg_{k}, 0.0) "
                f"/ ctx_top) + ((d_reg_{k} * n1p_top) / ctx_top) "
                f"* p{k - 1} END AS p{k} FROM ({stage})"
            )
        return (
            f"SELECT doc_id, CAST(ROUND(ln(p{k}) * 1000000.0, 0) AS BIGINT) "
            f"AS micro FROM ({stage})"
        )

    frames = [scored(k, sliding=False) for k in range(2, order)]
    frames.append(scored(order, sliding=True))
    union = "\nUNION ALL\n".join(frames)
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
scored AS ({union}),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(micro) AS BIGINT) AS sm
  FROM scored GROUP BY doc_id
),
fin AS (
  -- round-half-away in exact int64, then one exact division by 1e6:
  -- matches lm._finalize bit for bit (see its docstring)
  SELECT doc_id, n_scored,
         (CASE WHEN sm < 0 THEN -((2 * (-sm) + n_scored) // (2 * n_scored))
               ELSE (2 * sm + n_scored) // (2 * n_scored) END)
           / 1000000.0 AS avg_logprob
  FROM agg
)
SELECT doc_id, n_scored, avg_logprob, ROUND(exp(-avg_logprob), 3) AS ppl
FROM fin"""
    )


ORACLE_LM_PERPLEXITY_KN = _kn_oracle(3)


def q_lm_perplexity_mkn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 MODIFIED Kneser-Ney scoring (Chen & Goodman 1999 §3 —
    KenLM's estimator default, round 13): three discounts D1/D2/D3+ per
    level from n1..n4 count-of-counts, applied by each event's count
    class, with per-context class type-counts in the backoff mass
    (D1·N1 + D2·N2 + D3+·N3+)/denom.  Same table/scoring plumbing as
    the interpolated chain (llm_lm_perplexity_kn — still value-checked
    in pytest); the oracle is GENERATED by the same rules
    (_kn_oracle(modified=True)) — a full independent DuckDB
    re-derivation from raw parquet, float association pinned."""
    from dataintegration_ecomprovider_spark.llm import lm

    docs = Catalog(spark, sf_dir).table("documents")
    model = lm.train_ngram_lm(
        docs.filter(F.col("lang") == "en"), order=3, smoothing="mkn"
    )
    return lm.score_documents_ngram(docs, model)


ORACLE_LM_PERPLEXITY_MKN = _kn_oracle(3, modified=True)


QUERIES = {
    "llm_dedup_exact": QueryDef(q_dedup_exact, ORACLE_DEDUP_EXACT),
    "llm_training_shards_incremental": QueryDef(
        q_training_shards_incremental, ORACLE_TRAINING_SHARDS_INCREMENTAL
    ),
    "llm_split_hash": QueryDef(q_split_hash, ORACLE_SPLIT_HASH),
    "llm_sample_stratified": QueryDef(q_sample_stratified, ORACLE_SAMPLE_STRATIFIED),
    "llm_rebalance_mix": QueryDef(q_rebalance_mix, ORACLE_REBALANCE_MIX),
    "llm_temperature_mix": QueryDef(q_temperature_mix, ORACLE_TEMPERATURE_MIX),
    "llm_mixture_epochs": QueryDef(q_mixture_epochs, ORACLE_MIXTURE_EPOCHS),
    "llm_training_shards": QueryDef(q_training_shards, ORACLE_TRAINING_SHARDS),
    "llm_multimodal_frames": QueryDef(q_multimodal_frames, ORACLE_MULTIMODAL_FRAMES),
    "llm_near_dup_embedding": QueryDef(q_near_dup_embedding, ORACLE_NEAR_DUP_EMBEDDING),
    "llm_near_dup_embedding_lsh": QueryDef(q_near_dup_embedding_lsh, None, retired=True),
    "llm_repeated_spans": QueryDef(q_repeated_spans, ORACLE_REPEATED_SPANS),
    "llm_repeated_spans_maximal": QueryDef(
        q_repeated_spans_maximal, ORACLE_REPEATED_SPANS_MAXIMAL
    ),
    "llm_semantic_dedup": QueryDef(q_semantic_dedup, None, retired=True),
    "llm_semantic_dedup_portable": QueryDef(
        q_semantic_dedup_portable, ORACLE_SEMANTIC_DEDUP_PORTABLE
    ),
    "llm_sim_ivf_topk": QueryDef(q_ivf_topk, None, retired=True),
    "llm_dedup_minhash_lsh": QueryDef(q_minhash_candidates, None, retired=True),
    "llm_dedup_simhash": QueryDef(q_simhash, None, retired=True),
    "llm_ngram_jaccard": QueryDef(q_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "llm_sim_cosine_topk": QueryDef(q_cosine_topk, ORACLE_COSINE_TOPK),
    "llm_sim_topk_quantized": QueryDef(q_topk_quantized, ORACLE_TOPK_QUANTIZED),
    # folded (round-10 governance): flat PQ's sample → encode → ADC →
    # re-rank is the documented linear-scan subset of the composed
    # IVFPQ serve path, which runs the same PQ math within probed
    # cells; the flat oracle still value-checks in
    # tests/test_retired_fastpaths.py
    "llm_sim_pq_topk": QueryDef(
        q_pq_topk, ORACLE_PQ_TOPK, folded_into="llm_sim_ivfpq_topk"
    ),
    "llm_sim_ivfpq_topk": QueryDef(q_ivfpq_topk, ORACLE_IVFPQ_TOPK),
    "llm_pq_codes_cdc": QueryDef(q_pq_codes_cdc, ORACLE_PQ_CODES_CDC),
    "llm_sim_lsh_topk": QueryDef(q_lsh_topk, None, retired=True),
    "llm_text_quality": QueryDef(q_text_quality, ORACLE_TEXT_QUALITY),
    "llm_lang_id": QueryDef(q_lang_id, ORACLE_LANG_ID),
    "llm_token_counts": QueryDef(q_token_counts, ORACLE_TOKEN_COUNTS),
    "llm_bpe_train": QueryDef(q_bpe_train, ORACLE_BPE_TRAIN),
    "llm_bpe_token_counts": QueryDef(q_bpe_token_counts, ORACLE_BPE_TOKEN_COUNTS),
    "llm_bpe_encode_ids": QueryDef(q_bpe_encode_ids, ORACLE_BPE_ENCODE_IDS),
    # round-13 note: a mid-build fold (into llm_lm_perplexity_5gram) was
    # reverted by the optimization round — the optimization driver
    # re-runs every declared query and treats a disappeared name as a
    # regression, so the bigram scorer stays declared (its k=2
    # reproduction by the order-N scorer remains pinned in tests/test_lm.py)
    "llm_lm_perplexity": QueryDef(q_lm_perplexity, ORACLE_LM_PERPLEXITY),
    # folded (round-12 governance, funding llm_lm_perplexity_kn at the
    # 150 = 3×50 cap): the order-3 chain is the k=3 instance of the
    # generic order-N scorer the 5-gram entry grades (orders 2 and 3
    # reproduce the dedicated scorers bit-exactly, pinned in
    # tests/test_lm.py), and this oracle still value-checks every
    # pytest run in tests/test_retired_fastpaths.py
    "llm_lm_perplexity_trigram": QueryDef(
        q_lm_perplexity_trigram, ORACLE_LM_PERPLEXITY_TRIGRAM,
        folded_into="llm_lm_perplexity_5gram",
    ),
    "llm_lm_perplexity_5gram": QueryDef(
        q_lm_perplexity_5gram, ORACLE_LM_PERPLEXITY_5GRAM
    ),
    "llm_lm_perplexity_kn": QueryDef(
        q_lm_perplexity_kn, ORACLE_LM_PERPLEXITY_KN
    ),
    "llm_lm_perplexity_mkn": QueryDef(
        q_lm_perplexity_mkn, ORACLE_LM_PERPLEXITY_MKN
    ),
    "llm_fingerprint": QueryDef(q_fingerprint, ORACLE_FINGERPRINT),
    "llm_multimodal_features": QueryDef(q_multimodal_features, ORACLE_MULTIMODAL),
    "llm_dedup_minhash_lsh_portable": QueryDef(q_minhash_portable, ORACLE_MINHASH_PORTABLE),
    "llm_dedup_incremental": QueryDef(q_incremental_dedup, None, retired=True),
    "llm_dedup_index_cdc": QueryDef(q_dedup_index_cdc, None, retired=True),
    "llm_text_index_cdc": QueryDef(q_text_index_cdc, ORACLE_TEXT_INDEX_CDC),
    "llm_text_search_ranked": QueryDef(
        q_text_search_ranked, ORACLE_TEXT_SEARCH_RANKED
    ),
    "llm_dedup_index_cdc_portable": QueryDef(
        q_dedup_index_cdc_portable, ORACLE_DEDUP_INDEX_CDC_PORTABLE
    ),
    "llm_dedup_incremental_portable": QueryDef(
        q_incremental_dedup_portable, ORACLE_INCREMENTAL_PORTABLE
    ),
    "llm_dedup_cluster_cc": QueryDef(q_dedup_cluster_cc, ORACLE_CLUSTER_CC),
    "llm_dedup_simhash_portable": QueryDef(q_simhash_portable, ORACLE_SIMHASH_PORTABLE),
    "llm_near_dup_embedding_lsh_portable": QueryDef(
        q_near_dup_embedding_lsh_portable, ORACLE_NEAR_DUP_LSH_PORTABLE
    ),
    "llm_sim_lsh_topk_portable": QueryDef(q_lsh_topk_portable, ORACLE_LSH_TOPK_PORTABLE),
    # folded (round-10 registry governance, hard cap 150 driver slots):
    # inline IVF probe ⊂ index round-trip ⊂ the CDC-maintained index
    # lifecycle (seed publish + O(batch) merge + delete retraction +
    # probe of the SAME persisted layout) — all three collapse onto the
    # richest cover; the subset oracles still value-check in
    # tests/test_retired_fastpaths.py
    "llm_sim_ivf_topk_portable": QueryDef(
        q_ivf_topk_portable, ORACLE_IVF_TOPK_PORTABLE,
        folded_into="llm_ann_index_cdc_portable",
    ),
    "llm_sim_ivf_index_topk": QueryDef(q_ivf_index_topk, None, retired=True),
    "llm_sim_ivf_index_topk_portable": QueryDef(
        q_ivf_index_topk_portable, ORACLE_IVF_TOPK_PORTABLE,
        folded_into="llm_ann_index_cdc_portable",
    ),
    "llm_sim_ivf_topk_refined": QueryDef(q_ivf_topk_refined, None, retired=True),
    "llm_ann_index_cdc": QueryDef(q_ann_index_cdc, None, retired=True),
    "llm_ann_index_cdc_portable": QueryDef(
        q_ann_index_cdc_portable, ORACLE_ANN_INDEX_CDC_PORTABLE
    ),
    "llm_sim_ivf_topk_refined_portable": QueryDef(
        q_ivf_topk_refined_portable, ORACLE_IVF_TOPK_REFINED_PORTABLE
    ),
    "llm_topic_clusters": QueryDef(q_topic_clusters, None, retired=True),
    # folded (round-10 governance): the recenter lifecycle's final table
    # is value-identical to cluster_assignments over the whole corpus —
    # the two entries share ONE oracle string, so the batch clustering
    # surface rides the richer lifecycle's rotation slot
    "llm_topic_clusters_portable": QueryDef(
        q_topic_clusters_portable, ORACLE_TOPIC_CLUSTERS_PORTABLE,
        folded_into="llm_topic_recenter_portable",
    ),
    "llm_topic_clusters_incremental": QueryDef(
        q_topic_clusters_incremental, None, retired=True
    ),
    "llm_topic_clusters_incremental_portable": QueryDef(
        q_topic_clusters_incremental_portable,
        ORACLE_TOPIC_CLUSTERS_INCREMENTAL_PORTABLE,
    ),
    # the recentered index over the full corpus IS cluster_assignments
    # over the full corpus — same oracle, lifecycle asserted in-query
    "llm_topic_recenter_portable": QueryDef(
        q_topic_recenter_portable, ORACLE_TOPIC_CLUSTERS_PORTABLE
    ),
    "llm_topic_assignments_cdc": QueryDef(q_topic_assignments_cdc, None, retired=True),
    "llm_topic_assignments_cdc_portable": QueryDef(
        q_topic_assignments_cdc_portable,
        ORACLE_TOPIC_ASSIGNMENTS_CDC_PORTABLE,
    ),
    "llm_quality_filter_quantile": QueryDef(
        q_quality_filter_quantile, ORACLE_QUALITY_FILTER
    ),
    "llm_pack_sequences": QueryDef(q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "llm_chunk_documents": QueryDef(q_chunk_documents, ORACLE_CHUNK_DOCUMENTS),
    "llm_repetition_metrics": QueryDef(q_repetition_metrics, ORACLE_REPETITION),
    "llm_decontaminate": QueryDef(q_decontaminate, ORACLE_DECONTAMINATE),
    "llm_decontaminate_incremental_portable": QueryDef(
        q_decontaminate_incremental_portable, ORACLE_DECONTAMINATE_INCREMENTAL
    ),
    "llm_curation_pipeline": QueryDef(
        q_curation_pipeline, ORACLE_CURATION_PIPELINE
    ),
    "llm_decontaminate_exact": QueryDef(
        q_decontaminate_exact, ORACLE_DECONTAMINATE_EXACT
    ),
    "llm_line_dedup": QueryDef(q_line_dedup, ORACLE_LINE_DEDUP),
    "llm_pii_scrub": QueryDef(q_pii_scrub, ORACLE_PII_SCRUB),
}
