"""Document deduplication for training-data pipelines (BASELINE north star).

Four tiers, cheapest first — all DataFrame-native, no Python in the hot
path except where noted:

- exact: hash-groupBy on a content digest (md5).  One shuffle on the hash.
- minhash_lsh: shingle → minhash signature → band-bucket → candidate pairs.
  Signatures via built-in xxhash64 with per-permutation seeds (stays in
  whole-stage codegen); banding turns the O(n²) pair space into per-bucket
  joins.  At 100 TB the bucket join is the only shuffle and hot buckets are
  bounded by band width; AQE skew-split covers the rest.
- simhash: 64-bit signed-projection fingerprint; near-dups differ in few
  bits.  Hamming-ball probing via rotate-band buckets.
- ngram_jaccard: exact Jaccard on shingle sets for candidate verification
  (the precise re-rank after LSH recall).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, canonical id = min id, dup_count)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
        )
    )


def words_of(text: Column) -> Column:
    # [ \t\n\r\f]+ not \s+: Java \s includes \x0B, the DuckDB oracles'
    # RE2 \s does not (see llm/bpe.word_tokens)
    return F.split(F.trim(F.lower(text)), r"[ \t\n\r\f]+")


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Word n-gram shingle set from an ALREADY-MATERIALIZED word array.

    `words` must be a plain column attribute (projected in a prior select),
    not the split() expression itself: a non-attribute expression referenced
    inside the transform lambda is re-evaluated per element — O(W²) per
    document (measured ~4× on the signature stage at sf0.1)."""
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
            lambda s: F.length(s) > 0,
        )
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (array<string>, distinct).  Prefer the
    two-stage words_of → shingles_from_words when you control the plan."""
    return shingles_from_words(words_of(text), n)


# Permutation family: affine maps mod the Mersenne prime 2^31-1 over the
# base xxhash64.  Bounded intermediates (< 2^57) keep ANSI-mode long
# arithmetic overflow-free; coefficients derive from the permutation index —
# no RNG state, identical across retries and cluster sizes.
_MERSENNE31 = 2_147_483_647


def _mix_coeffs(i: int) -> tuple[int, int]:
    a = (2 * i + 1) * 2654435761 % _MERSENNE31  # Knuth multiplicative spread
    b = (i + 1) * 40503 % _MERSENNE31
    return a, b


def _mix(h31: Column, i: int) -> Column:
    a, b = _mix_coeffs(i)
    return F.pmod(h31 * F.lit(a).cast("long") + F.lit(b).cast("long"), F.lit(_MERSENNE31))


def _min_mix_sql(i: int) -> str:
    """SQL text of min(_mix(h, i)) — one parser call instead of ~8 py4j
    Column-composition round trips per permutation.  Same expression after
    analysis; shaves a slice of the ~1 s driver-side plan-construction
    cost (profiled: the cost is aggregate py4j chatter across the whole
    pipeline, amortized to nothing at real scale where the plan is built
    once per job)."""
    a, b = _mix_coeffs(i)
    return f"min(pmod(h * {a}L + {b}L, {_MERSENNE31}L))"


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, sig: array<bigint>) minhash signatures.

    Shape matters for scale: shingles are exploded to rows and hashed ONCE,
    then all permutations reduce in a single groupBy pass (map-side partial
    min, one shuffle on the doc id).  The nested-array alternative
    (array_min over 32 transforms) recomputes the shingle construction per
    permutation — measured 30× slower at sf0.1 — because Catalyst's
    CollapseProject re-inlines the shared subexpression into every branch.

    `portable=True` swaps the base shingle hash from xxhash64 to the
    md5-derived family (llm/portable.py) so a DuckDB oracle can replicate
    signatures byte-for-byte; same plan shape, slower hash.
    """
    if portable:
        from dataintegration_ecomprovider_spark.llm.portable import md5_int60

        base = md5_int60(F.col("s"))
    else:
        base = F.xxhash64("s")
    # guide §2.5 spread lives at the CORPUS-SIZED call sites
    # (minhash_candidates, the dedup-index seed), not here: this
    # primitive also receives delta-sized CDC batches, where an added
    # Exchange per small batch costs more than the parallel scan gains
    with_words = docs.select(
        F.col(id_col).alias("id"), words_of(F.col(text_col)).alias("w")
    )
    exploded = with_words.select(
        "id", F.explode(shingles_from_words(F.col("w"), shingle_n)).alias("s")
    ).select("id", F.pmod(base, F.lit(_MERSENNE31)).alias("h"))
    mins = exploded.groupBy("id").agg(
        *[F.expr(_min_mix_sql(i)).alias(f"m{i}") for i in range(num_hashes)]
    )
    return mins.select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def band_buckets(
    sig: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    id_col: str = "id",
    sig_col: str = "sig",
) -> DataFrame:
    """(id, band, bucket) LSH band rows from a minhash signature table —
    the banding step shared by minhash_candidates (within-corpus pairs)
    and llm/incremental.py (batch-vs-index matching).  `portable=True`
    spells the bucket as the literal signature-slice string (engine-
    independent join key); the fast path hashes the slice with Murmur3."""
    rows_per_band = num_hashes // bands

    def bucket_of(b: int) -> Column:
        sl = F.slice(sig_col, b * rows_per_band + 1, rows_per_band)
        if portable:
            return F.concat_ws(",", sl.cast("array<string>"))
        return F.hash(sl).cast("string")

    return sig.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket_of(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("pos", "bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded minhash LSH.

    rows = docs; output = distinct candidate pairs that share ≥1 band
    bucket.  The band bucket is the shuffle key — pairs never materialize
    globally, only within buckets.

    `portable=True`: md5-family base hash + the band bucket as the literal
    signature-slice string (instead of Murmur3 via F.hash) so the bucket
    join key is engine-independent — slightly wider shuffle keys, same
    join shape.
    """
    from dataintegration_ecomprovider_spark import runtime

    # guide §2.5: candidate generation sees corpus-sized inputs (the
    # batch-ingest path signs batches via minhash_signatures directly),
    # and a single-file corpus otherwise shingles on ONE core (measured
    # 2.56 → 2.25 s); the spread lives here, not in the shared
    # primitive, so delta-sized signature calls skip the Exchange
    sig = minhash_signatures(
        runtime.spread_scan(docs), id_col, text_col, num_hashes, shingle_n,
        portable,
    )
    banded = band_buckets(sig, num_hashes, bands, portable)
    # Pairs via groupBy-collect within each (band, bucket) — NOT a banded
    # self-join: the signature pipeline is consumed exactly once (no
    # corpus-scale persist needed) and the only shuffle is the bucket
    # groupBy.  An id appears at most once per (band, bucket), so the
    # sorted-array expansion yields strict id_a < id_b pairs, identical to
    # the self-join's a.id < b.id output.  Skew profile matches the
    # self-join's (a hot bucket concentrates on one reducer either way);
    # bucket sizes are bounded by band width (p99 = 2 at sf0.1).
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # Stream the within-bucket pair expansion: posexplode the member list,
    # then explode each member's strictly-later suffix.  Same output as a
    # flattened all-pairs array, but no single value ever holds the O(k²)
    # cross-product — a hot bucket (mass-duplicate corpus) peaks at one
    # O(k) suffix array per generated row instead of one O(k²) array per
    # bucket, so the 2 GB single-value limit is out of reach and the
    # generators pipeline row-by-row through whole-stage codegen.
    pairs = (
        buckets.select("ids", F.posexplode("ids").alias("pos", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("pos") + 2, F.size("ids") - F.col("pos") - 1)
            ).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # candidate pairs are consumed several times downstream (id projection
    # ×2 for the semi-join + the verification join) — persist the small
    # pair set so the LSH pipeline runs once, not once per consumer.  The
    # persist is TRACKED: callers free it with runtime.release_caches()
    # after consuming their results, or the pair set leaks.
    from dataintegration_ecomprovider_spark import runtime

    return runtime.track(pairs.persist())


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B| (rounded 6).

    Shingles are computed only for docs that appear in a pair (semi-join
    first): the verification stage touches |pairs| docs, not |corpus| —
    at 100 TB the candidate set is orders of magnitude smaller than the
    corpus."""
    ids = (
        pairs.select(F.col("id_a").alias("pid"))
        .unionByName(pairs.select(F.col("id_b").alias("pid")))
        .dropDuplicates(["pid"])
    )
    needed = docs.join(ids, docs[id_col] == ids.pid, "left_semi")
    sh = (
        needed.select(F.col(id_col).alias("id"), words_of(F.col(text_col)).alias("w"))
        .select("id", shingles_from_words(F.col("w"), shingle_n).alias("sh"))
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )


def _simhash_from_hashes(hashes: Column, bits: int) -> Column:
    """The SimHash bit-aggregation, single source of truth for BOTH public
    forms (simhash_signatures and the Column-form simhash): per bit i, the
    sign of the sum of (+1/-1) contributions of each shingle-hash's bit i;
    positive sums set bit i of the fingerprint.  Capped at 63 bits to stay
    within signed-long positive range."""

    def bit_contrib(i: int):
        # factory to avoid the late-binding loop-variable lambda trap
        return lambda h: F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    bit_cols = []
    for i in range(min(bits, 63)):
        contrib = F.transform(hashes, bit_contrib(i))
        total = F.aggregate(contrib, F.lit(0), lambda acc, x: acc + x)
        bit_cols.append(
            F.when(total > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return F.aggregate(F.array(*bit_cols), F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    out_col: str = "simhash",
    portable: bool = False,
) -> DataFrame:
    """(id, simhash) via staged projections: words → shingles → hash array
    materialize as real columns, so the 63 per-bit aggregates all read the
    SAME hash-array attribute instead of re-deriving the shingle pipeline
    per bit (the Column-function form re-evaluates it 63×).

    `portable=True`: md5-family shingle hash (60 usable bits — pass
    bits<=60) so a DuckDB oracle replicates the fingerprint exactly."""
    if portable:
        from dataintegration_ecomprovider_spark.llm.portable import md5_int60

        hash_fn = md5_int60
    else:
        hash_fn = F.xxhash64
    hashed = (
        docs.select(F.col(id_col), words_of(F.col(text_col)).alias("__w"))
        .select(F.col(id_col), shingles_from_words(F.col("__w"), 2).alias("__sh"))
        .select(F.col(id_col), F.transform("__sh", lambda s: hash_fn(s)).alias("__h"))
    )
    return hashed.select(
        F.col(id_col), _simhash_from_hashes(F.col("__h"), bits).alias(out_col)
    )


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash over word shingles as a single Column expression.
    Same formula as simhash_signatures by construction (both delegate to
    _simhash_from_hashes — tests/test_llm.py parity-pins them); prefer the
    DataFrame form when you control the plan: this one re-derives the
    shingle pipeline inside each bit aggregate."""
    hashes = F.transform(shingles(text, 2), lambda s: F.xxhash64(s))
    return _simhash_from_hashes(hashes, bits)


def repeated_spans(
    docs: DataFrame,
    span_words: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-span detection: word n-gram spans that occur
    in at least `min_docs` distinct documents — boilerplate headers, license
    blocks, templated text.  The shuffle-friendly approximation of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): fixed-width spans instead of
    maximal repeats, so the whole computation is one explode + one
    aggregation.

    Scale shape: spans explode partition-locally (distinct within doc);
    the count-distinct aggregates in two phases with a (span, doc) partial
    distinct first, so even a span present in half the corpus — the skew
    case — reduces per-partition before the final count.  Docs shorter
    than `span_words` words contribute nothing (filtered on both engines).

    Returns (span, n_docs), one row per repeated span."""
    with_words = docs.select(
        F.col(id_col), words_of(F.col(text_col)).alias("w")
    ).filter(F.size(F.col("w")) >= span_words)
    exploded = with_words.select(
        id_col,
        F.explode(shingles_from_words(F.col("w"), span_words)).alias("span"),
    )
    return (
        exploded.groupBy("span")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def _positional_spans(
    with_words: DataFrame, n: int, id_col: str
) -> DataFrame:
    """(id, pos, span): every word n-gram WITH its 0-based start position
    (posexplode, not distinct — maximality needs occurrences)."""
    spans = F.transform(
        F.sequence(F.lit(0), F.size(F.col("w")) - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n)),
    )
    return (
        with_words.filter(F.size(F.col("w")) >= n)
        .select(id_col, F.posexplode(spans).alias("pos", "span"))
    )


def repeated_spans_maximal(
    docs: DataFrame,
    span_words: int = 4,
    levels: int = 3,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL repeated spans via length doubling — ``repeated_spans``
    extended toward suffix-array substring dedup (Lee et al.
    2022 removes maximal repeats, not fixed-width ones): widths n, 2n,
    ..., n·2^(levels-1); a width-w span is reported only when some
    occurrence of it is NOT covered by a repeated span of width 2w — so
    a 16-word license block surfaces once as (close to) its full extent
    instead of as dozens of overlapping 4-word fragments.  The doubling
    schedule bounds the approximation: true maximal extents are captured
    to within the next power-of-two width, and ``levels`` caps the work
    (suffix automata would find exact extents but don't decompose into
    shuffles).

    Scale shape per level: positional spans explode partition-locally;
    repetition is the same two-phase (span → count distinct id) aggregate
    as repeated_spans; the coverage check anti-joins each level's
    REPEATED occurrences (already a small candidate set) against the next
    level's on the document key with a position-range predicate — the
    join keys on the document, so work is bounded by repeats per doc,
    not corpus size.  Higher levels shrink fast (a 2w-repeat requires a
    w-repeat at both halves), which is what makes doubling cheaper than
    scanning all widths.

    Returns (span, width, n_docs) — one row per distinct maximal span,
    n_docs counted at its own width over the whole corpus."""
    from dataintegration_ecomprovider_spark import runtime

    # guide §2.5: positional-span explosion over a single-file scan
    # otherwise runs on ONE core; span counts are order-insensitive
    # (no-op at scale)
    docs = runtime.spread_scan(docs)
    with_words = docs.select(
        F.col(id_col).alias("__id"), words_of(F.col(text_col)).alias("w")
    )
    repeated_occ = []
    for k in range(levels):
        width = span_words * (2 ** k)
        occ = _positional_spans(with_words, width, "__id")
        rep = (
            occ.groupBy("span")
            .agg(F.countDistinct("__id").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
        )
        repeated_occ.append(occ.join(rep, "span"))
    out = None
    for k in range(levels):
        width = span_words * (2 ** k)
        level = repeated_occ[k]
        if k + 1 < levels:
            cover = repeated_occ[k + 1].select(
                F.col("__id").alias("__cid"), F.col("pos").alias("__cpos")
            )
            level = level.join(
                cover,
                (F.col("__id") == F.col("__cid"))
                & (F.col("__cpos") <= F.col("pos"))
                & (F.col("pos") + width <= F.col("__cpos") + 2 * width),
                "left_anti",
            )
        survived = (
            level.select("span", "n_docs")
            .distinct()
            .withColumn("width", F.lit(width))
            .select("span", "width", "n_docs")
        )
        out = survived if out is None else out.unionByName(survived)
    return out
