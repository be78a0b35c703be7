"""Distributed byte-pair-encoding tokenizer training and encoding.

The reference engine only COUNTS tokens with a fixed GPT-2-style regex
(functions/text.py:65 ``bpe_token_count`` mirrors it).  A real
training-data pipeline also needs to TRAIN the tokenizer on the corpus —
this module implements BPE merge learning (Sennrich, Haddow & Birch
2016, "Neural Machine Translation of Rare Words with Subword Units";
the GPT-2 tokenizer's training procedure) Spark-first:

- The 100 TB corpus collapses ONCE into a (word, freq) table — the
  classic scale reducer: distinct words grow sub-linearly with corpus
  bytes (Heaps' law), so every training iteration runs on a vocabulary-
  sized table, never the corpus.
- Each merge iteration is ONE declarative aggregation (explode adjacent
  symbol pairs weighted by word frequency → groupBy → argmax with a
  total deterministic tie-break) plus one literal string ``replace``
  applied to every word — all JVM-side built-ins, no Python in the loop
  body, no UDFs.
- Words are represented as delimiter-framed symbol strings so that a
  merge is a single non-overlapping left-to-right ``replace`` — the
  exact greedy-left semantics BPE specifies, identical in Spark's
  ``replace`` and DuckDB's (the oracle replays training as a chain of
  plain-SQL CTEs, see plans/llm_queries.py bpe oracles).

Representation: word "abc" becomes

    SEP a SEP SEP b SEP SEP c SEP SEP EOW SEP

(every symbol wrapped in its own SEP pair, EOW appended as the classic
end-of-word symbol).  Merging pair (x, y) is then

    replace(sym, SEP x SEP SEP y SEP, SEP x·y SEP)

Back-to-back matches stay adjacent ("a a a a" → "aa aa", not
"aa a a") because each match consumes only its own frames — see
tests/test_bpe.py::test_replace_merge_is_greedy_left.

Symbols never contain SEP/EOW by construction: input words containing
either control char are dropped up front (both engines apply the same
filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime

SEP = "\x1f"  # unit separator: frames every symbol
EOW = "\x17"  # end-of-word symbol appended to every word

_INNER = SEP + SEP


def clean_words(words: Column) -> Column:
    """Drop empty words and words containing the framing control chars
    (the only inputs the delimited representation cannot carry)."""
    return F.filter(
        words,
        lambda w: (w != "")
        & ~F.contains(w, F.lit(SEP))
        & ~F.contains(w, F.lit(EOW)),
    )


def word_tokens(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens of ``text`` (optionally lowercased), cleaned —
    the shared tokenization for training and encoding.

    The split class is spelled out as ``[ \\t\\n\\r\\f]+`` rather than
    ``\\s+``: Java's ``\\s`` includes vertical tab (\\x0B) but DuckDB's
    RE2 ``\\s`` does not, so a document containing \\x0B would tokenize
    differently across engines and break the value-hash oracles — the
    explicit class is the 5-char intersection both engines agree on."""
    base = F.lower(text) if lowercase else text
    return clean_words(F.split(F.trim(base), r"[ \t\n\r\f]+"))


def word_frequencies(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-wide pass.

    At 100 TB this is a single explode + hash aggregation (map-side
    partial combine collapses each partition to its local vocabulary
    before the shuffle); everything downstream runs on the result,
    whose size is the corpus VOCABULARY, not the corpus."""
    # guide §2.5: a single-file corpus otherwise explodes on ONE core;
    # counts are order-insensitive (no-op at scale)
    docs = runtime.spread_scan(docs)
    return (
        docs.select(
            F.explode(word_tokens(F.col(text_col), lowercase)).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _char_symbols(word: Column) -> Column:
    """Per-character symbol array of ``word``, EOW appended."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substr(word, i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(EOW)))


def symbol_string(word: Column) -> Column:
    """Initial delimited symbol string: per-character symbols + EOW."""
    return F.concat(
        F.lit(SEP), F.array_join(_char_symbols(word), _INNER), F.lit(SEP)
    )


def _symbols(sym_col: str) -> Column:
    """Symbol array back out of a delimited symbol string column."""
    return F.split(F.btrim(F.col(sym_col), F.lit(SEP)), _INNER)


def pair_counts(words: DataFrame, sym_col: str = "sym") -> DataFrame:
    """(lft, rgt, cnt): adjacent-symbol pair frequencies weighted by
    word frequency.  One explode + one aggregation over the vocabulary
    table — the whole per-iteration cost of training."""
    s = _symbols(sym_col)
    n = F.size(s)
    pairs = F.transform(
        F.slice(s, F.lit(1), F.greatest(n - F.lit(1), F.lit(0))),
        lambda x, i: F.struct(
            x.alias("lft"),
            F.element_at(_symbols(sym_col), i + F.lit(2)).alias("rgt"),
        ),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.lft").alias("lft"), F.col("p.rgt").alias("rgt"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def merge_pattern(lft: str, rgt: str) -> tuple[str, str]:
    """(search, replace) literals realizing merge (lft, rgt) on the
    delimited representation."""
    return (SEP + lft + _INNER + rgt + SEP, SEP + lft + rgt + SEP)


def train(
    words: DataFrame,
    num_merges: int,
    min_pair_freq: int = 1,
    checkpoint_every: int = 16,
    strict: bool = False,
) -> list[dict]:
    """Learn ``num_merges`` BPE merges from a (word, freq) table.

    Returns [{rank, lft, rgt, token, pair_freq}, ...] in rank order.
    Each iteration is one Spark aggregation over the vocabulary table +
    a 1-row collect (the argmax pair; the tie-break is total: count
    DESC, lft ASC, rgt ASC — binary string order in both engines, so
    training is deterministic and DuckDB-replayable).  Training stops
    early when no pair reaches ``min_pair_freq`` (or raises when
    ``strict``).

    The vocabulary table is cached once; the per-iteration ``replace``
    lineage is cut every ``checkpoint_every`` merges so iteration i
    never replays O(i) string rewrites.  The cache holds the AGGREGATED
    vocabulary — far smaller than the corpus — so it is coalesced to
    defaultParallelism/8 partitions before persisting: every training
    iteration launches one job over the cached table, and at 32-way
    local the per-task scheduling overhead of 32 near-empty cached
    partitions dominates the argmax itself (12 merges measured 2.36 s
    at 32 partitions against 1.92 s at 4).  The divisor is
    scale-relative, so a large cluster still fans out."""
    spark = words.sparkSession
    cache_parts = max(1, spark.sparkContext.defaultParallelism // 8)
    base = (
        words.select(symbol_string(F.col("word")).alias("sym"), "freq")
        .coalesce(cache_parts)
        .persist()
    )
    cur = base
    ckpt_ids: set[int] = set()
    merges: list[dict] = []
    try:
        for rank in range(1, num_merges + 1):
            best = (
                pair_counts(cur)
                .orderBy(F.col("cnt").desc(), F.col("lft").asc(), F.col("rgt").asc())
                .limit(1)
                .collect()
            )
            if not best or best[0]["cnt"] < min_pair_freq:
                if strict:
                    raise ValueError(
                        f"no pair with frequency >= {min_pair_freq} at rank {rank}"
                    )
                break
            lft, rgt, cnt = best[0]["lft"], best[0]["rgt"], best[0]["cnt"]
            merges.append(
                {"rank": rank, "lft": lft, "rgt": rgt,
                 "token": lft + rgt, "pair_freq": cnt}
            )
            pat, rep = merge_pattern(lft, rgt)
            cur = cur.withColumn("sym", F.replace(F.col("sym"), F.lit(pat), F.lit(rep)))
            if rank % checkpoint_every == 0:
                new_cur, new_ids = runtime.local_checkpoint(cur)
                # the fresh checkpoint is self-contained — its
                # predecessor's storage can go immediately
                runtime.unpersist_rdd_ids(spark, ckpt_ids)
                cur, ckpt_ids = new_cur, new_ids
    finally:
        # nothing distributed escapes (the result is a plain list), so
        # every intermediate frees here — explicit checkpoint-id
        # tracking, the cluster.py pattern (cache-hygiene-tested)
        try:
            base.unpersist()
        except Exception:
            pass
        runtime.unpersist_rdd_ids(spark, ckpt_ids)
    return merges


def _tokens_udf(
    text: Column,
    merges: list[dict],
    lowercase: bool = True,
    byte_fallback: bool = False,
) -> Column:
    """tokens()'s scale path past REPLACE_CHAIN_MAX merges: greedy
    per-word encode, byte-fallback words emitted as uppercase-hex
    ``<0xNN>`` tokens in place (exactly byte_tokens' format)."""
    import re as _re

    import pandas as pd

    ranks = {(m["lft"], m["rgt"]): i for i, m in enumerate(merges)}
    ws_re = _re.compile(r"[ \t\n\r\f]+")

    def _tok_fn(col):
        def one(t):
            if t is None:
                return None  # the column chain propagates NULL text
            if lowercase:
                t = t.lower()
            out: list[str] = []
            for w in ws_re.split(t.strip(" \t\n\r\f")):
                if not w:
                    continue
                if SEP in w or EOW in w:
                    if byte_fallback:
                        out.extend(
                            f"<0x{b:02X}>" for b in w.encode("utf-8")
                        )
                    continue
                out.extend(_encode_word_greedy(w, ranks))
            return out

        return col.map(one)

    # see _encoded_string_udf for why annotations are attached post-hoc
    _tok_fn.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return F.pandas_udf("array<string>")(_tok_fn)(text)


def byte_tokens(word: Column) -> Column:
    """``<0xNN>`` per UTF-8 byte of ``word`` — the byte-fallback carrier
    (GPT-2's convention) for words the delimited representation cannot
    hold (they contain SEP/EOW).  Pure column expression: hex the UTF-8
    encoding, slice two nibbles per token."""
    h = F.hex(F.encode(word, "UTF-8"))
    return F.transform(
        F.sequence(F.lit(1), (F.length(h) / F.lit(2)).cast("int")),
        lambda i: F.concat(
            F.lit("<0x"), F.substr(h, i * 2 - 1, F.lit(2)), F.lit(">")
        ),
    )


def vocab(
    words: DataFrame,
    merges: list[dict],
    specials: tuple[str, ...] = ("<unk>",),
    byte_fallback: bool = False,
) -> list[dict]:
    """The tokenizer's vocabulary with STABLE token ids —
    [{token_id, token, kind}] where ids number, in order: the reserved
    ``specials`` (kind='special', in input order), the base character
    symbols observed in the (word, freq) table plus EOW (kind='char',
    binary-sorted — the same cross-engine total order training's
    tie-break already relies on), then the merge tokens in rank order
    (kind='merge').  First writer wins on surface-form collisions (two
    merge paths CAN produce the same string; the earlier rank keeps the
    id), so ids are dense and deterministic given (words, merges,
    specials) — what a training run needs to consume the tokenizer.

    ``byte_fallback=True`` additionally reserves the 256 ``<0xNN>``
    byte tokens (kind='byte') right after the specials — the GPT-2
    convention: tokens(byte_fallback=True) carries SEP/EOW-bearing
    words losslessly as bytes instead of dropping them, and every
    fallback token has an id by construction.

    The character pull is one distinct aggregation collected to the
    driver — bounded by the corpus ALPHABET, the same driver-residency
    class as the merge list itself."""
    chars = {
        r["c"]
        for r in words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.substr(F.col("word"), i, F.lit(1)),
                )
            ).alias("c")
        )
        .distinct()
        .collect()
    } | {EOW}
    out: list[dict] = []
    seen: set[str] = set()

    def add(token: str, kind: str) -> None:
        if token not in seen:
            seen.add(token)
            out.append(
                {"token_id": len(out), "token": token, "kind": kind}
            )

    for t in specials:
        add(t, "special")
    if byte_fallback:
        for i in range(256):
            add(f"<0x{i:02X}>", "byte")
    for c in sorted(chars):
        add(c, "char")
    for m in merges:
        add(m["token"], "merge")
    return out


def vocab_df(spark: SparkSession, vocab_rows: list[dict]) -> DataFrame:
    """The vocabulary as a (tiny, broadcast-sized) DataFrame."""
    return spark.createDataFrame(
        [(int(v["token_id"]), v["token"], v["kind"]) for v in vocab_rows],
        "token_id bigint, token string, kind string",
    ).repartition(1)


def token_id_rows(
    docs: DataFrame,
    merges: list[dict],
    vocab_rows: list[dict],
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    byte_fallback: bool = False,
) -> DataFrame:
    """(id, pos, token_id): the trained-BPE encoding of each document as
    id sequences — posexplode of the token array joined to the
    (broadcast) vocabulary; a token absent from the vocabulary (possible
    only when encoding text the vocab was not derived from) maps to the
    first 'special' entry (the <unk> convention) or null if none is
    reserved.  One corpus scan + one broadcast join — no corpus-side
    shuffle."""
    spark = docs.sparkSession
    unk = next(
        (v["token_id"] for v in vocab_rows if v["kind"] == "special"), None
    )
    # no spread_scan here: callers feed filtered subsets, where the
    # added Exchange costs more than the explode gains
    # (llm_bpe_encode_ids measured 3.83 s without vs 4.47 s with)
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            tokens(F.col(text_col), merges, lowercase, byte_fallback)
        ).alias("pos", "token"),
    )
    joined = toks.join(
        F.broadcast(vocab_df(spark, vocab_rows).select("token", "token_id")),
        "token",
        "left",
    )
    tid = (
        F.coalesce(F.col("token_id"), F.lit(int(unk)))
        if unk is not None
        else F.col("token_id")
    )
    return joined.select(
        F.col(id_col), F.col("pos").cast("int").alias("pos"),
        tid.cast("bigint").alias("token_id"),
    )


def merges_df(spark: SparkSession, merges: list[dict]) -> DataFrame:
    """The learned merge table as a (tiny) DataFrame — one file on disk,
    broadcast-sized by construction."""
    rows = [
        (int(m["rank"]), m["lft"], m["rgt"], m["token"], int(m["pair_freq"]))
        for m in merges
    ]
    df = spark.createDataFrame(
        rows, "rank int, lft string, rgt string, token string, pair_freq bigint"
    )
    # local relations fan out over defaultParallelism near-empty
    # partitions; repartition(1) computes them in parallel THEN writes
    # one file, so a commit stages one small file, not defaultParallelism
    return df.repartition(1)


# Measured ceiling of the nested-replace column expression
# (scripts/scale_probe.py bpe_ceiling): the classic
# Column → Catalyst expression conversion recurses once per nested node
# and OVERFLOWS THE DRIVER STACK between 256 and 384 nested replaces —
# a production 32k-merge tokenizer would crash at plan build, long
# before codegen limits matter.  At or under the ceiling the chain stays
# the fast path (pure JVM, one corpus scan); above it encoding switches
# to the Arrow-batched greedy encoder (_encoded_string_udf), whose
# per-word cost is independent of the merge count.
REPLACE_CHAIN_MAX = 256


def encoded_string(text: Column, merges: list[dict], lowercase: bool = True) -> Column:
    """The document's delimited symbol string AFTER applying all merges
    in rank order (word symbol strings joined by a space, which can
    never take part in a match: merge patterns are SEP-framed and SEP
    never borders a space).

    Up to REPLACE_CHAIN_MAX merges this is a pure column expression — a
    chain of literal replaces, one corpus scan, no shuffle, no Python.
    Larger tokenizers use the Arrow-batched greedy encoder: identical
    output (tests/test_bpe.py pins parity on trained merge lists), one
    pass, broadcast-sized rank dict per executor."""
    if len(merges) > REPLACE_CHAIN_MAX:
        return _encoded_string_udf(text, merges, lowercase)
    wsyms = F.transform(
        word_tokens(text, lowercase),
        lambda w: F.concat(
            F.lit(SEP), F.array_join(_char_symbols(w), _INNER), F.lit(SEP)
        ),
    )
    s = F.array_join(wsyms, " ")
    for m in merges:
        pat, rep = merge_pattern(m["lft"], m["rgt"])
        s = F.replace(s, F.lit(pat), F.lit(rep))
    return s


def _encode_word_greedy(word: str, ranks: dict) -> list[str]:
    """Classic BPE encode of one word (chars + EOW), repeatedly merging
    the LOWEST-RANK adjacent pair (all leftmost non-overlapping
    occurrences per step).  For a well-formed learned merge list this is
    exactly the rank-ordered exhaustive replace chain: a merge's product
    symbol can only appear in patterns learned LATER, so applying ranks
    in order never re-enables an earlier pattern — the equivalence the
    parity test pins."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                lft, rgt = syms[i], syms[i + 1]
        if best_rank is None:
            break
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == lft and syms[i + 1] == rgt:
                out.append(lft + rgt)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _encoded_string_udf(
    text: Column, merges: list[dict], lowercase: bool = True
) -> Column:
    """encoded_string's scale path: an Arrow-batched Pandas UDF running
    the greedy encoder per word — same delimited output format, cost
    independent of the merge count (the replace chain pays one corpus
    scan PER MERGE and overflows the driver stack past
    REPLACE_CHAIN_MAX nested nodes).  The rank dict ships once per
    executor inside the serialized closure (a 32k-merge tokenizer is
    ~1 MB — broadcast-sized)."""
    import re as _re

    import pandas as pd

    ranks = {(m["lft"], m["rgt"]): i for i, m in enumerate(merges)}
    ws_re = _re.compile(r"[ \t\n\r\f]+")

    def _enc_fn(col):
        def one(t):
            if t is None:
                return None  # the replace chain propagates NULL text
            if lowercase:
                t = t.lower()
            words = [
                w for w in ws_re.split(t.strip(" \t\n\r\f"))
                if w and SEP not in w and EOW not in w
            ]
            return " ".join(
                SEP + _INNER.join(_encode_word_greedy(w, ranks)) + SEP
                for w in words
            )

        return col.map(one)

    # real annotation objects: `from __future__ import annotations` turns
    # inline hints into strings pandas_udf cannot resolve against a
    # function-local pandas import
    _enc_fn.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return F.pandas_udf("string")(_enc_fn)(text)


def token_count(
    text: Column,
    merges: list[dict],
    lowercase: bool = True,
    byte_fallback: bool = False,
) -> Column:
    """Tokens per document under the trained merges, without
    materializing token arrays: each word contributes 1 + (inner
    separators) symbols, so the count is n_words + total inner
    separators — measured by length delta under a collapsing replace
    (no triple-SEP runs exist, by format invariant).

    ``byte_fallback=True`` counts the fallback carriage too: a dropped
    word encodes as one ``<0xNN>`` token per UTF-8 byte, so its token
    count is exactly octet_length(word) — still length arithmetic,
    still no arrays (equals size(tokens(byte_fallback=True)), asserted
    in tests/test_bpe.py)."""
    s = encoded_string(text, merges, lowercase)
    inner_seps = F.length(s) - F.length(F.replace(s, F.lit(_INNER), F.lit(SEP)))
    clean_count = F.size(word_tokens(text, lowercase)) + inner_seps
    if not byte_fallback:
        return clean_count.cast("bigint")
    base = F.lower(text) if lowercase else text
    raw = F.filter(
        F.split(F.trim(base), r"[ \t\n\r\f]+"), lambda w: w != ""
    )
    dirty_bytes = F.aggregate(
        F.filter(
            raw,
            lambda w: F.contains(w, F.lit(SEP)) | F.contains(w, F.lit(EOW)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.octet_length(w),
    )
    return (clean_count + dirty_bytes).cast("bigint")


def tokens(
    text: Column,
    merges: list[dict],
    lowercase: bool = True,
    byte_fallback: bool = False,
) -> Column:
    """The trained-BPE token array for a document (word-major order).

    ``byte_fallback=True`` replaces the drop contract: words containing
    SEP/EOW — which the delimited replace representation cannot carry —
    are emitted as their UTF-8 ``<0xNN>`` byte tokens IN PLACE (word
    order preserved), so the encoding is lossless.  Clean words produce
    exactly the same tokens on either path: merge patterns are
    SEP-framed and never span a word boundary, so the per-word replace
    chain used here equals the document-level chain in encoded_string
    (the same invariant that lets encoded_string join words with
    spaces)."""
    if len(merges) > REPLACE_CHAIN_MAX:
        # same driver-stack ceiling as encoded_string (the per-word
        # chain nests one replace per merge too) — greedy Arrow path
        return _tokens_udf(text, merges, lowercase, byte_fallback)
    if not byte_fallback:
        s = encoded_string(text, merges, lowercase)
        per_word = F.filter(F.split(s, " "), lambda w: w != "")
        return F.flatten(
            F.transform(per_word, lambda w: F.split(F.btrim(w, F.lit(SEP)), _INNER))
        )
    base = F.lower(text) if lowercase else text
    raw = F.filter(
        F.split(F.trim(base), r"[ \t\n\r\f]+"), lambda w: w != ""
    )

    def word_toks(w: Column) -> Column:
        sym = F.concat(
            F.lit(SEP), F.array_join(_char_symbols(w), _INNER), F.lit(SEP)
        )
        for m in merges:
            pat, rep = merge_pattern(m["lft"], m["rgt"])
            sym = F.replace(sym, F.lit(pat), F.lit(rep))
        return F.when(
            F.contains(w, F.lit(SEP)) | F.contains(w, F.lit(EOW)),
            byte_tokens(w),
        ).otherwise(F.split(F.btrim(sym, F.lit(SEP)), _INNER))

    return F.flatten(F.transform(raw, word_toks))
