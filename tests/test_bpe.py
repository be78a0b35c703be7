"""BPE tokenizer training/encoding (llm/bpe.py) checked against an
independent pure-Python reference implementation (the textbook
symbol-list algorithm from Sennrich 2016), plus the DuckDB oracle
parity for the registry queries."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.llm import bpe
from tests.conftest import SF_DIR, assert_frames_match

SEP, EOW = bpe.SEP, bpe.EOW


# --- pure-Python reference (symbol lists, no string framing) ---------------
def ref_train(word_freqs: dict[str, int], num_merges: int, min_pair_freq: int = 1):
    vocab = [([*w, EOW], f) for w, f in word_freqs.items()]
    merges = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_pair_freq:
            break
        merges.append(
            {"rank": rank, "lft": a, "rgt": b, "token": a + b, "pair_freq": cnt}
        )
        vocab = [(_ref_apply(s, a, b), f) for s, f in vocab]
    return merges


def _ref_apply(syms: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def ref_encode(word: str, merges) -> list[str]:
    syms = [*word, EOW]
    for m in merges:
        syms = _ref_apply(syms, m["lft"], m["rgt"])
    return syms


def _words_df(spark, freqs: dict[str, int]):
    return spark.createDataFrame(
        [(w, f) for w, f in freqs.items()], "word string, freq bigint"
    )


SENNRICH = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 2, "a": 1}


def test_train_matches_reference(spark):
    got = bpe.train(_words_df(spark, SENNRICH), num_merges=8)
    assert got == ref_train(SENNRICH, 8)


def test_replace_merge_is_greedy_left(spark):
    """Back-to-back merges stay adjacent: 'aaaa' → (aa)(aa), 'aaa' →
    (aa)(a) — the per-symbol SEP framing makes literal replace
    realize exactly the greedy-left semantics."""
    merges = bpe.train(_words_df(spark, {"aaaa": 1}), num_merges=1)
    assert merges[0]["lft"] == "a" and merges[0]["rgt"] == "a"
    assert merges[0]["pair_freq"] == 3
    docs = spark.createDataFrame([(1, "aaaa"), (2, "aaa")], "id int, text string")
    toks = {
        r["id"]: r["t"]
        for r in docs.select("id", bpe.tokens(F.col("text"), merges).alias("t")).collect()
    }
    assert toks[1] == ["aa", "aa", EOW]
    assert toks[2] == ["aa", "a", EOW]


def test_encode_matches_reference(spark):
    merges = bpe.train(_words_df(spark, SENNRICH), num_merges=8)
    text = "LOW lower  newest\twidest aaaa a low"
    expect = []
    for w in text.lower().split():
        expect.extend(ref_encode(w, merges))
    row = (
        spark.createDataFrame([(text,)], "text string")
        .select(
            bpe.tokens(F.col("text"), merges).alias("t"),
            bpe.token_count(F.col("text"), merges).alias("n"),
        )
        .collect()[0]
    )
    assert row["t"] == expect
    assert row["n"] == len(expect)


def test_control_char_words_dropped(spark):
    docs = spark.createDataFrame(
        [(1, f"ok a{SEP}b c{EOW}d also")], "id int, text string"
    )
    words = {
        r["word"]: r["freq"]
        for r in bpe.word_frequencies(docs, "text").collect()
    }
    assert words == {"ok": 1, "also": 1}


def test_empty_and_null_text(spark):
    docs = spark.createDataFrame([(1, ""), (2, "   "), (3, None)], "id int, text string")
    merges = [{"rank": 1, "lft": "a", "rgt": "a", "token": "aa", "pair_freq": 1}]
    out = docs.select(
        "id",
        bpe.token_count(F.coalesce(F.col("text"), F.lit("")), merges).alias("n"),
    ).collect()
    assert {r["id"]: r["n"] for r in out} == {1: 0, 2: 0, 3: 0}


def test_early_stop_and_strict(spark):
    # "ab" fully merges in 2 steps; the third iteration has no pairs
    words = _words_df(spark, {"ab": 1})
    merges = bpe.train(words, num_merges=5)
    assert [m["token"] for m in merges] == ["ab", "ab" + EOW]
    with pytest.raises(ValueError):
        bpe.train(words, num_merges=5, strict=True)
    # min_pair_freq above every count stops immediately
    assert bpe.train(words, num_merges=5, min_pair_freq=2) == []


def test_checkpoint_interval_is_semantically_invisible(spark):
    a = bpe.train(_words_df(spark, SENNRICH), num_merges=6, checkpoint_every=2)
    b = bpe.train(_words_df(spark, SENNRICH), num_merges=6)
    assert a == b


def test_fixture_corpus_matches_reference(spark):
    """Full-corpus training at sf0.001 agrees with the independent
    Python implementation run on pandas-derived word counts."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = bpe.train(bpe.word_frequencies(docs), num_merges=12, strict=True)

    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["text"])
    freqs: dict[str, int] = {}
    for t in pdf["text"].fillna(""):
        for w in t.lower().split():
            if w and SEP not in w and EOW not in w:
                freqs[w] = freqs.get(w, 0) + 1
    assert got == ref_train(freqs, 12)


def test_registry_queries_match_oracle(spark, oracle):
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    qs = all_queries()
    for name in ("llm_bpe_train", "llm_bpe_token_counts"):
        spdf = qs[name].fn(spark, SF_DIR).toPandas()
        odf = oracle.execute(qs[name].oracle).fetchdf()
        assert_frames_match(spdf, odf, name)


# --- vocabulary + token ids (round 11) --------------------------------------
def _tiny_words(spark):
    return spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, freq bigint",
    )


def test_vocab_ids_are_stable_and_ordered(spark):
    """Specials first (input order), then chars + EOW binary-sorted,
    then merge tokens in rank order — dense ids, first writer wins."""
    words = _tiny_words(spark)
    merges = bpe.train(words, num_merges=4, strict=True)
    voc = bpe.vocab(words, merges, specials=("<unk>", "<pad>"))
    assert [v["token_id"] for v in voc] == list(range(len(voc)))
    assert voc[0] == {"token_id": 0, "token": "<unk>", "kind": "special"}
    assert voc[1] == {"token_id": 1, "token": "<pad>", "kind": "special"}
    chars = [v for v in voc if v["kind"] == "char"]
    expected_chars = sorted(set("lowernewstwid") | {EOW})
    assert [c["token"] for c in chars] == expected_chars
    tail = [v["token"] for v in voc if v["kind"] == "merge"]
    assert tail == [m["token"] for m in merges]
    # round-trip: id -> token -> id
    by_id = {v["token_id"]: v["token"] for v in voc}
    by_tok = {v["token"]: v["token_id"] for v in voc}
    assert all(by_tok[t] == i for i, t in by_id.items())


def test_vocab_first_writer_wins_on_collision(spark):
    words = spark.createDataFrame([("ab", 3)], "word string, freq bigint")
    merges = [
        {"rank": 1, "lft": "a", "rgt": "b", "token": "ab", "pair_freq": 3},
        {"rank": 2, "lft": "a", "rgt": "b", "token": "ab", "pair_freq": 1},
    ]
    voc = bpe.vocab(words, merges, specials=())
    assert [v["token"] for v in voc if v["kind"] == "merge"] == ["ab"]
    assert [v["token_id"] for v in voc] == list(range(len(voc)))


def test_token_id_rows_decode_back_to_tokens(spark):
    """ids decode back to the exact token stream: join ids->tokens and
    compare against bpe.tokens() order-sensitively."""
    docs = spark.createDataFrame(
        [(1, "low lower newest"), (2, "widest low")],
        "doc_id bigint, text string",
    )
    words = bpe.word_frequencies(docs)
    merges = bpe.train(words, num_merges=4, strict=True)
    voc = bpe.vocab(words, merges)
    by_id = {v["token_id"]: v["token"] for v in voc}
    got = bpe.token_id_rows(docs, merges, voc).collect()
    decoded: dict[int, list[str]] = {}
    for r in sorted(got, key=lambda r: (r["doc_id"], r["pos"])):
        decoded.setdefault(r["doc_id"], []).append(by_id[r["token_id"]])
    direct = {
        r["doc_id"]: list(r["toks"])
        for r in docs.select(
            "doc_id", bpe.tokens(F.col("text"), merges).alias("toks")
        ).collect()
    }
    assert decoded == direct
    # and every position is contiguous from 0
    for doc_id, toks in direct.items():
        poss = sorted(r["pos"] for r in got if r["doc_id"] == doc_id)
        assert poss == list(range(len(toks)))


def test_token_id_rows_unknown_token_maps_to_unk(spark):
    """Encoding text the vocab was NOT derived from: unseen characters
    fall back to the reserved <unk> id."""
    train_docs = spark.createDataFrame(
        [(1, "aa ab")], "doc_id bigint, text string"
    )
    words = bpe.word_frequencies(train_docs)
    merges = bpe.train(words, num_merges=1, strict=True)
    voc = bpe.vocab(words, merges)
    out = bpe.token_id_rows(
        spark.createDataFrame([(9, "az")], "doc_id bigint, text string"),
        merges, voc,
    ).collect()
    by_tok = {v["token"]: v["token_id"] for v in voc}
    ids = [r["token_id"] for r in sorted(out, key=lambda r: r["pos"])]
    assert by_tok["<unk>"] == 0
    assert ids[1] == 0  # 'z' is out-of-vocabulary
    assert ids[0] == by_tok["a"]


def test_encode_ids_registry_query_matches_oracle(spark, oracle):
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    qd = all_queries()["llm_bpe_encode_ids"]
    assert_frames_match(
        qd.fn(spark, SF_DIR).toPandas(),
        oracle.execute(qd.oracle).fetchdf(),
        "llm_bpe_encode_ids",
    )


# --- byte-fallback encoding (round 11) ---------------------------------------
def _sql_str(s: str) -> str:
    """A DuckDB expression producing exactly ``s`` (chr() for anything
    non-printable or quoted)."""
    parts = []
    for ch in s:
        o = ord(ch)
        if 32 <= o < 127 and ch != "'":
            parts.append(f"'{ch}'")
        else:
            parts.append(f"chr({o})")
    return " || ".join(parts) if parts else "''"


def test_byte_tokens_are_utf8_bytes(spark):
    out = spark.range(1).select(
        bpe.byte_tokens(F.lit(f"a{SEP}é")).alias("t")
    ).collect()[0]["t"]
    # 'a' = 0x61, SEP = 0x1F, 'é' = UTF-8 C3 A9
    assert list(out) == ["<0x61>", "<0x1F>", "<0xC3>", "<0xA9>"]


def test_tokens_byte_fallback_preserves_word_order(spark):
    docs = spark.createDataFrame(
        [(1, f"low {SEP}mid low")], "doc_id bigint, text string"
    )
    words = bpe.word_frequencies(docs)  # dirty word drops from TRAINING
    merges = bpe.train(words, num_merges=2, strict=True)
    toks = docs.select(
        bpe.tokens(F.col("text"), merges, byte_fallback=True).alias("t")
    ).collect()[0]["t"]
    clean = docs.select(
        bpe.tokens(F.lit("low"), merges).alias("t")
    ).collect()[0]["t"]
    n = len(clean)
    # word-major: low-tokens, then the 4 bytes of SEP+m+i+d, then low
    assert list(toks[:n]) == list(clean)
    assert list(toks[n:n + 4]) == ["<0x1F>", "<0x6D>", "<0x69>", "<0x64>"]
    assert list(toks[n + 4:]) == list(clean)


def test_tokens_byte_fallback_equals_plain_on_clean_text(spark):
    from dataintegration_ecomprovider_spark.catalog import Catalog

    docs = Catalog(spark, SF_DIR).table("documents").filter(
        F.col("doc_id") < 30
    )
    merges = bpe.train(bpe.word_frequencies(docs), num_merges=6, strict=True)
    a = docs.select(
        "doc_id", bpe.tokens(F.col("text"), merges).alias("t")
    ).collect()
    b = docs.select(
        "doc_id",
        bpe.tokens(F.col("text"), merges, byte_fallback=True).alias("t"),
    ).collect()
    assert {r["doc_id"]: list(r["t"]) for r in a} == \
        {r["doc_id"]: list(r["t"]) for r in b}


def test_vocab_byte_fallback_reserves_256_ids_and_ids_decode(spark):
    docs = spark.createDataFrame(
        [(1, f"aa ab z{EOW}q")], "doc_id bigint, text string"
    )
    words = bpe.word_frequencies(docs)
    merges = bpe.train(words, num_merges=1, strict=True)
    voc = bpe.vocab(words, merges, byte_fallback=True)
    bytes_ = [v for v in voc if v["kind"] == "byte"]
    assert len(bytes_) == 256
    assert bytes_[0]["token_id"] == 1  # right after ('<unk>',)
    assert bytes_[0x61]["token"] == "<0x61>"
    by_tok = {v["token"]: v["token_id"] for v in voc}
    got = bpe.token_id_rows(
        docs, merges, voc, byte_fallback=True
    ).collect()
    ids = [r["token_id"] for r in sorted(got, key=lambda r: r["pos"])]
    # the dirty word z\x17q arrives as bytes 7A 17 71 with byte-token ids
    assert ids[-3:] == [by_tok["<0x7A>"], by_tok["<0x17>"], by_tok["<0x71>"]]
    # and nothing mapped to <unk>
    assert 0 not in ids


def test_byte_fallback_duckdb_parity(spark, oracle):
    """Cross-engine proof for the fallback path: DuckDB re-derives the
    mixed clean/byte encoding from the SAME merge literals and the SAME
    vocabulary, value-equal on (doc_id, pos, token_id)."""
    import duckdb

    rows = [
        (1, f"low lower {SEP}bad newest"),
        (2, f"wi{EOW}de low"),
        (3, "newest newest lower"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    words = bpe.word_frequencies(docs)
    merges = bpe.train(words, num_merges=4, strict=True)
    voc = bpe.vocab(words, merges, byte_fallback=True)
    got = {
        (r["doc_id"], r["pos"], r["token_id"])
        for r in bpe.token_id_rows(
            docs, merges, voc, byte_fallback=True
        ).collect()
    }

    sym = ("chr(31) || array_to_string(list_append("
           "list_transform(range(1, length(w) + 1), i -> w[i:i]), chr(23)),"
           " chr(31) || chr(31)) || chr(31)")
    chain = sym
    for m in merges:
        pat, rep = bpe.merge_pattern(m["lft"], m["rgt"])
        chain = f"replace({chain}, {_sql_str(pat)}, {_sql_str(rep)})"
    doc_vals = ", ".join(f"({i}, {_sql_str(t)})" for i, t in rows)
    voc_vals = ", ".join(
        f"({v['token_id']}, {_sql_str(v['token'])})" for v in voc
    )
    sql = f"""
WITH docs(doc_id, text) AS (VALUES {doc_vals}),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     w -> w <> '') AS ws
  FROM docs
),
words_pos AS (
  SELECT doc_id, wi, list_extract(ws, wi) AS w
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS wi FROM toks)
),
wtoks AS (
  SELECT doc_id, wi,
         CASE WHEN strpos(w, chr(31)) > 0 OR strpos(w, chr(23)) > 0
              THEN list_transform(range(1, length(hex(encode(w))) // 2 + 1),
                     i -> '<0x' || substring(hex(encode(w)),
                                             CAST(2 * i - 1 AS INT), 2) || '>')
              ELSE string_split(trim({chain}, chr(31)), chr(31) || chr(31))
         END AS toks
  FROM words_pos
),
tok AS (
  SELECT doc_id, wi, ti, list_extract(toks, ti) AS token
  FROM (SELECT doc_id, wi, toks, unnest(range(1, len(toks) + 1)) AS ti
        FROM wtoks)
),
pos_tok AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wi, ti) - 1
              AS INT) AS pos,
         token
  FROM tok
),
vocab(token_id, token) AS (VALUES {voc_vals})
SELECT p.doc_id, p.pos, COALESCE(v.token_id, 0) AS token_id
FROM pos_tok p LEFT JOIN vocab v ON v.token = p.token
"""
    con = duckdb.connect()
    want = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == want and len(got) > 10


def test_token_count_byte_fallback_matches_materialized_tokens(spark):
    docs = spark.createDataFrame(
        [(1, f"low {SEP}mid lower wi{EOW}de"), (2, "newest low"), (3, "")],
        "doc_id bigint, text string",
    )
    merges = bpe.train(bpe.word_frequencies(docs), num_merges=3, strict=True)
    got = {
        r["doc_id"]: (r["n"], len(r["t"]))
        for r in docs.select(
            "doc_id",
            bpe.token_count(F.col("text"), merges, byte_fallback=True).alias("n"),
            bpe.tokens(F.col("text"), merges, byte_fallback=True).alias("t"),
        ).collect()
    }
    for doc_id, (n, arr_len) in got.items():
        assert n == arr_len, (doc_id, n, arr_len)
    # and the fallback count strictly exceeds the drop count for doc 1
    drop = docs.filter("doc_id = 1").select(
        bpe.token_count(F.col("text"), merges).alias("n")
    ).collect()[0]["n"]
    assert got[1][0] > drop


# --- replace-chain ceiling + greedy scale path (round 12) --------------------
def test_greedy_udf_matches_replace_chain_on_trained_merges(spark):
    """The Arrow-batched greedy encoder (the >REPLACE_CHAIN_MAX path)
    produces the replace chain's delimited string byte for byte on a
    TRAINED merge list — the well-formedness the equivalence argument
    (a merge's product only appears in later patterns) relies on."""
    merges = ref_train(SENNRICH, 12)
    docs = spark.createDataFrame(
        [(1, "low lower newest stuff"), (2, "widest aaaa a low low"),
         (3, ""), (4, None), (5, "  newest\twidest \n lower ")],
        "doc_id bigint, text string",
    )
    chain = docs.select(
        "doc_id", bpe.encoded_string(F.col("text"), merges).alias("s")
    )
    greedy = docs.select(
        "doc_id", bpe._encoded_string_udf(F.col("text"), merges).alias("s")
    )
    a = {r["doc_id"]: r["s"] for r in chain.collect()}
    b = {r["doc_id"]: r["s"] for r in greedy.collect()}
    assert a == b


def test_greedy_udf_tokens_match_chain_with_byte_fallback(spark):
    merges = ref_train(SENNRICH, 8)
    docs = spark.createDataFrame(
        [(1, "low " + SEP + "bad low"), (2, "newest " + EOW + "x")],
        "doc_id bigint, text string",
    )
    for bf in (False, True):
        a = {r["doc_id"]: r["t"] for r in docs.select(
            "doc_id", bpe.tokens(F.col("text"), merges, byte_fallback=bf).alias("t")
        ).collect()}
        b = {r["doc_id"]: r["t"] for r in docs.select(
            "doc_id", bpe._tokens_udf(F.col("text"), merges, True, bf).alias("t")
        ).collect()}
        assert a == b, f"byte_fallback={bf}"


def _long_wellformed_merges(n: int) -> list[dict]:
    """A >REPLACE_CHAIN_MAX well-formed merge list: one growing chain
    over a base alphabet (each merge's lft is the previous product)."""
    import string

    base = string.ascii_lowercase
    out = []
    cur = "q"
    for i in range(n):
        nxt = base[i % 26]
        out.append({"rank": i + 1, "lft": cur, "rgt": nxt, "token": cur + nxt,
                    "pair_freq": 1})
        cur = cur + nxt
    return out


def test_encoded_string_gates_to_greedy_above_ceiling(spark):
    """Past REPLACE_CHAIN_MAX merges the chain would StackOverflow the
    driver at plan build (measured: between 256 and 384 nested
    replaces) — the gate must route to the greedy path and the
    token_count length arithmetic must stay consistent with tokens()."""
    merges = _long_wellformed_merges(bpe.REPLACE_CHAIN_MAX + 50)
    docs = spark.createDataFrame(
        [(1, "qab qabc xyz"), (2, "qabcdefghij q")],
        "doc_id bigint, text string",
    )
    got = docs.select(
        "doc_id",
        bpe.token_count(F.col("text"), merges).alias("n"),
        F.size(bpe.tokens(F.col("text"), merges)).cast("bigint").alias("m"),
    ).collect()
    assert all(r["n"] == r["m"] for r in got)
    # the chain itself at the ceiling still works (the fast path)
    small = merges[: bpe.REPLACE_CHAIN_MAX]
    chain = docs.select(bpe.encoded_string(F.col("text"), small).alias("s"))
    greedy = docs.select(
        bpe._encoded_string_udf(F.col("text"), small).alias("s")
    )
    assert [r["s"] for r in chain.collect()] == [
        r["s"] for r in greedy.collect()
    ]
