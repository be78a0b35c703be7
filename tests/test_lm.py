"""Bigram stupid-backoff LM scoring (llm/lm.py): hand-computed scores,
edge cases, pruning semantics, and DuckDB oracle parity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.llm import lm
from tests.conftest import SF_DIR, assert_frames_match


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _micro(lp: float) -> int:
    return int(round(lp * lm.MICRO))


def _avg(micros: list[int]) -> float:
    # mirror lm._finalize: round-half-away of sm/n in exact ints, then
    # one exact division by 1e6
    sm, n = sum(micros), len(micros)
    q = (2 * abs(sm) + n) // (2 * n)
    return (-q if sm < 0 else q) / float(lm.MICRO)


def test_hand_computed_scores(spark):
    """train: 'a b a', 'b a' → uni a:3 b:2 (N=5, V=2); bigrams
    (a,b):1 (b,a):2; ctx a:1 b:2.  Score 'a b c':
    (a,b) = ln(1/1) = 0; (b,c) backs off = ln(0.4·(0+1)/7)."""
    train = _docs(spark, [(1, "a b a"), (2, "b a")])
    model = lm.train_bigram_lm(train)
    out = lm.score_documents(_docs(spark, [(10, "a b c")]), model).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_scored"] == 2
    micros = [
        _micro(math.log(1) - math.log(1)),
        _micro(math.log(0.4) + math.log(0 + 1) - math.log(5 + 2)),
    ]
    assert r["avg_logprob"] == _avg(micros)
    assert r["ppl"] == round(math.exp(-r["avg_logprob"]), 3)


def test_backoff_uses_unigram_count(spark):
    """'b b' is an unseen bigram but b is a frequent unigram — its
    backoff beats an unseen word's."""
    train = _docs(spark, [(1, "a b a"), (2, "b a")])
    model = lm.train_bigram_lm(train)
    out = {
        r["doc_id"]: r["avg_logprob"]
        for r in lm.score_documents(
            _docs(spark, [(1, "b b"), (2, "b z")]), model
        ).collect()
    }
    lp_bb = _avg([_micro(math.log(0.4) + math.log(2 + 1) - math.log(7))])
    lp_bz = _avg([_micro(math.log(0.4) + math.log(0 + 1) - math.log(7))])
    assert out == {1: lp_bb, 2: lp_bz}
    assert out[1] > out[2]


def test_short_docs_are_excluded(spark):
    model = lm.train_bigram_lm(_docs(spark, [(1, "a b")]))
    out = lm.score_documents(
        _docs(spark, [(1, "solo"), (2, ""), (3, None), (4, "a b")]), model
    ).collect()
    assert [r["doc_id"] for r in out] == [4]


def test_min_count_prunes_to_backoff(spark):
    """With min_count=2 the (a,b):1 bigram is pruned → its positions
    back off; the context table keeps FULL counts so retained bigrams
    normalize unchanged."""
    train = _docs(spark, [(1, "a b a"), (2, "b a")])
    full = lm.train_bigram_lm(train)
    pruned = lm.train_bigram_lm(train, min_count=2)
    assert pruned["bigrams"].count() == 1  # only (b,a):2 survives
    target = _docs(spark, [(9, "a b")])
    got = lm.score_documents(target, pruned).collect()[0]
    # a,b pruned → backoff on uni(b)=2 (uni min_count=2 keeps a:3, b:2)
    assert got["avg_logprob"] == _avg(
        [_micro(math.log(0.4) + math.log(2 + 1) - math.log(5 + 2))]
    )
    # and the full model scored it as a seen bigram
    full_got = lm.score_documents(target, full).collect()[0]
    assert full_got["avg_logprob"] == _avg([_micro(math.log(1) - math.log(1))])


def test_scoring_is_train_slice_independent_of_target(spark):
    """Scoring docs outside the training slice only reads the model —
    the English-trained model scores any language's tokens."""
    train = _docs(spark, [(1, "the cat sat")])
    model = lm.train_bigram_lm(train)
    out = lm.score_documents(_docs(spark, [(5, "der hund")]), model).collect()
    assert out[0]["n_scored"] == 1


def test_registry_query_matches_oracle(spark, oracle):
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    qd = all_queries()["llm_lm_perplexity"]
    assert_frames_match(
        qd.fn(spark, SF_DIR).toPandas(),
        oracle.execute(qd.oracle).fetchdf(),
        "llm_lm_perplexity",
    )


def test_stored_lm_model_is_cdc_maintained(spark, tmp_path):
    """The stored model (5 maintained tables composed from rowwise +
    aggregate maintainers) holds the in-memory model's counts, through
    seed AND delta (doc update, slice exit, delete, insert)."""
    from dataintegration_ecomprovider_spark.plans import publish

    root = str(tmp_path / "lm_store")
    docs = spark.createDataFrame(
        [(1, "a b a", "en"), (2, "b a", "en"), (3, "x y", "de")],
        "doc_id bigint, text string, lang string",
    )
    publish.publish_tables(
        spark, {"documents": docs}, root, table_keys={"documents": ["doc_id"]}
    )
    rep = lm.maintain_lm_model(spark, root, train_lang="en")
    assert {k: v["mode"] for k, v in rep.items()} == {
        "tokens": "seed", "bigrams": "seed", "unigram_counts": "seed",
        "bigram_counts": "seed", "ctx_counts": "seed",
    }

    def counts(rows, key, cnt):
        return {tuple(r[k] for k in key): int(r[cnt]) for r in rows.collect()}

    def stored_counts():
        def table(name):
            return publish.read_table(spark, root, f"lm_{name}_counts")

        return (
            counts(table("unigram"), ["w"], "cnt"),
            counts(table("bigram"), ["prev", "w"], "cnt"),
            counts(table("ctx"), ["prev"], "cnt"),
        )

    def direct_counts(train_df):
        model = lm.train_bigram_lm(train_df)
        return (
            counts(model["unigrams"], ["w"], "ucnt"),
            counts(model["bigrams"], ["prev", "w"], "cnt"),
            counts(model["contexts"], ["prev"], "ccnt"),
        )

    assert stored_counts() == direct_counts(
        docs.filter(F.col("lang") == "en").select("doc_id", "text")
    )

    # delta: doc 1 re-texts, doc 2 leaves the train slice (lang flip),
    # doc 4 arrives, doc 3 (never in slice) deletes
    publish.merge_into_mor(
        spark, root, "documents",
        spark.createDataFrame(
            [(1, "a a b", "en"), (2, "b a", "fr"), (4, "c a b", "en")],
            "doc_id bigint, text string, lang string",
        ),
        deletes=spark.createDataFrame([(3,)], "doc_id bigint"),
    )
    rep = lm.maintain_lm_model(spark, root, train_lang="en")
    assert all(v["mode"] == "delta" for v in rep.values()), rep
    final_train = spark.createDataFrame(
        [(1, "a a b"), (4, "c a b")], "doc_id bigint, text string"
    )
    assert stored_counts() == direct_counts(final_train)


# --- trigram stupid backoff (round 11) --------------------------------------
def test_trigram_hand_computed_backoff_chain(spark):
    """train: 'a b a', 'b a c' → uni a:3 b:2 c:1 (N=6, V=3); bigrams
    (a,b):1 (b,a):2 (a,c):1, ctx a:2 b:2; trigrams (a,b,a):1 (b,a,c):1,
    ctx2 (a,b):1 (b,a):1.  Score 'a b a c z' — one position per chain
    level: bigram head, trigram hit x2, full floor."""
    train = _docs(spark, [(1, "a b a"), (2, "b a c")])
    model = lm.train_trigram_lm(train)
    out = lm.score_documents_trigram(
        _docs(spark, [(10, "a b a c z")]), model
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_scored"] == 4
    micros = [
        _micro(math.log(1) - math.log(2)),            # head (a,b)
        _micro(math.log(1) - math.log(1)),            # (a,b,a) trigram
        _micro(math.log(1) - math.log(1)),            # (b,a,c) trigram
        _micro(2 * math.log(0.4) + math.log(0 + 1) - math.log(6 + 3)),
    ]
    assert r["avg_logprob"] == _avg(micros)
    assert r["ppl"] == round(math.exp(-r["avg_logprob"]), 3)


def test_trigram_backs_off_to_seen_bigram(spark):
    """(b,a,b) is an unseen trigram but (a,b) is a seen bigram: the
    middle backoff level fires with ONE 0.4 factor."""
    train = _docs(spark, [(1, "a b a"), (2, "b a c")])
    model = lm.train_trigram_lm(train)
    out = lm.score_documents_trigram(_docs(spark, [(1, "b a b")]), model).collect()
    r = out[0]
    assert r["n_scored"] == 2
    micros = [
        _micro(math.log(2) - math.log(2)),                      # head (b,a)
        _micro(math.log(0.4) + math.log(1) - math.log(2)),      # 0.4·c(a,b)/ctx(a)
    ]
    assert r["avg_logprob"] == _avg(micros)


def test_trigram_two_token_doc_scores_bigram_head_only(spark):
    train = _docs(spark, [(1, "a b a")])
    model = lm.train_trigram_lm(train)
    out = lm.score_documents_trigram(_docs(spark, [(7, "a b")]), model).collect()
    assert out[0]["n_scored"] == 1
    # same value the bigram model assigns: n_scored is len-1 in both
    big = lm.score_documents(
        _docs(spark, [(7, "a b")]), lm.train_bigram_lm(train)
    ).collect()
    assert out[0]["avg_logprob"] == big[0]["avg_logprob"]


def test_trigram_min_count_prunes_trigrams_but_keeps_ctx2(spark):
    """min_count=2 prunes both 1-count trigrams → every trigram position
    backs off; ctx2 keeps FULL counts so a retained trigram would
    normalize unchanged."""
    train = _docs(spark, [(1, "a b a"), (2, "b a c")])
    pruned = lm.train_trigram_lm(train, min_count=2)
    assert pruned["trigrams"].count() == 0
    assert pruned["contexts2"].count() == 2
    out = lm.score_documents_trigram(
        _docs(spark, [(3, "a b a")]), pruned
    ).collect()[0]
    micros = [
        # head (a,b): bigram (a,b):1 also pruned → 0.4·uni floor on
        # w=b (ucnt 2, retained by the prune)
        _micro(math.log(0.4) + math.log(2 + 1) - math.log(6 + 3)),
        # (a,b,a): trigram pruned, bigram (b,a):2 retained → 0.4 level
        _micro(math.log(0.4) + math.log(2) - math.log(2)),
    ]
    assert out["avg_logprob"] == _avg(micros)


def test_trigram_registry_query_matches_oracle(spark, oracle):
    # folded into llm_lm_perplexity_5gram (round-12 governance) — the
    # oracle keeps value-checking here and in test_retired_fastpaths
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    qd = all_queries(include_retired=True)["llm_lm_perplexity_trigram"]
    assert_frames_match(
        qd.fn(spark, SF_DIR).toPandas(),
        oracle.execute(qd.oracle).fetchdf(),
        "llm_lm_perplexity_trigram",
    )


# --- generic order-N engine (round 11) ---------------------------------------
def _fixture_docs(spark, n=120):
    from dataintegration_ecomprovider_spark.catalog import Catalog

    docs = Catalog(spark, SF_DIR).table("documents")
    return docs.filter(F.col("doc_id") < n)


def test_ngram_order2_reproduces_bigram_scorer(spark):
    """The generic engine at order 2 IS the bigram scorer — same counts,
    same chain, same micro-nat values on real fixture text."""
    docs = _fixture_docs(spark)
    train = docs.filter(F.col("lang") == "en")
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in lm.score_documents_ngram(
            docs, lm.train_ngram_lm(train, order=2)
        ).collect()
    }
    want = {
        r["doc_id"]: tuple(r)[1:]
        for r in lm.score_documents(docs, lm.train_bigram_lm(train)).collect()
    }
    assert got == want


def test_ngram_order3_reproduces_trigram_scorer(spark):
    docs = _fixture_docs(spark)
    train = docs.filter(F.col("lang") == "en")
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in lm.score_documents_ngram(
            docs, lm.train_ngram_lm(train, order=3)
        ).collect()
    }
    want = {
        r["doc_id"]: tuple(r)[1:]
        for r in lm.score_documents_trigram(
            docs, lm.train_trigram_lm(train)
        ).collect()
    }
    assert got == want


def test_ngram_order4_hand_computed_chain(spark):
    """train 'a b c d a b c e' → 4-grams each once; score 'a b c d z':
    head positions walk the shortened contexts, the 4-gram (a,b,c,d)
    hits, and z falls through the whole chain to the 0.4^3 floor."""
    train = _docs(spark, [(1, "a b c d a b c e")])
    model = lm.train_ngram_lm(train, order=4)
    out = lm.score_documents_ngram(_docs(spark, [(9, "a b c d z")]), model).collect()
    r = out[0]
    assert r["n_scored"] == 4
    # uni: a2 b2 c2 d1 e1 -> N=8 V=5; bigrams (a,b):2 (b,c):2 (c,d):1
    # (d,a):1 (c,e):1; trigrams (a,b,c):2 (b,c,d):1 (c,d,a):1 (d,a,b):1
    # (b,c,e):1; 4-grams (a,b,c,d):1 (b,c,d,a):1 (c,d,a,b):1 (d,a,b,c):1
    # (a,b,c,e):1
    micros = [
        _micro(math.log(2) - math.log(2)),   # pos2 (a,b)
        _micro(math.log(2) - math.log(2)),   # pos3 (a,b,c) trigram ctx2(a,b)=2
        _micro(math.log(1) - math.log(2)),   # pos4 (a,b,c,d): ctx3(a,b,c)=2
        _micro(3 * math.log(0.4) + math.log(0 + 1) - math.log(8 + 5)),  # z
    ]
    assert r["avg_logprob"] == _avg(micros)


def test_ngram_rejects_order_one(spark):
    with pytest.raises(ValueError, match="order >= 2"):
        lm.train_ngram_lm(_docs(spark, [(1, "a b")]), order=1)


def test_5gram_registry_query_matches_oracle(spark, oracle):
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    qd = all_queries()["llm_lm_perplexity_5gram"]
    assert_frames_match(
        qd.fn(spark, SF_DIR).toPandas(),
        oracle.execute(qd.oracle).fetchdf(),
        "llm_lm_perplexity_5gram",
    )


# --- interpolated Kneser-Ney (round 12) --------------------------------------
def test_kn_order2_hand_computed_chain(spark):
    """train 'a b a b c' — fully hand-derived interpolated-KN chain.

    Tables: uni a2 b2 c1 (V=3); bigrams (a,b):2 (b,a):1 (b,c):1;
    rc2: a→(ccnt 2, n1p 1), b→(ccnt 2, n1p 2);
    cont1: a:1 b:1 c:1 (each word has exactly one distinct predecessor
    type) → cc1tot=3, n1c1=3;
    discounts: d_reg_2 = n1/(n1+2n2) = 2/(2+2·1) = 0.5 over bigram
    counts {2,1,1}; d_cont_1 = 3/(3+0) = 1.0 over cc values {1,1,1}.

    Unigram level (D=1 discounts everything):
      p̄(w) = max(1−1,0)/3 + (1·3/3)·(1/(3+1)) = 0.25   for every seen w
      p̄(z) = 0 + 1·0.25 = 0.25                          for unseen z
    Score 'a b z':
      p(b|a) = max(2−0.5,0)/2 + (0.5·1/2)·0.25 = 0.75 + 0.0625 = 0.8125
      p(z|b) = max(0−0.5,0)/2 + (0.5·2/2)·0.25 = 0.125"""
    train = _docs(spark, [(1, "a b a b c")])
    model = lm.train_ngram_lm(train, order=2, smoothing="kn")
    out = lm.score_documents_ngram(_docs(spark, [(9, "a b z")]), model).collect()
    r = out[0]
    assert r["n_scored"] == 2
    micros = [_micro(math.log(0.8125)), _micro(math.log(0.125))]
    assert r["avg_logprob"] == _avg(micros)


def test_kn_unseen_context_passes_through(spark):
    """A context never seen in training collapses its level: the score
    is the lower (unigram-continuation) distribution unchanged."""
    train = _docs(spark, [(1, "a b a b c")])
    model = lm.train_ngram_lm(train, order=2, smoothing="kn")
    out = lm.score_documents_ngram(_docs(spark, [(9, "q b")]), model).collect()
    # p = p̄(b) = 0.25 (see the hand computation above)
    assert out[0]["avg_logprob"] == _avg([_micro(math.log(0.25))])


def _kn_reference(train_texts, score_texts, order):
    """Independent plain-Python interpolated-KN reimplementation (dicts
    and loops, no Spark): the cross-check for the distributed scorer."""
    from collections import Counter, defaultdict

    toks = [t.split() for t in train_texts]
    grams = {
        k: Counter(
            tuple(ws[i:i + k]) for ws in toks for i in range(len(ws) - k + 1)
        )
        for k in range(1, order + 1)
    }
    V = len(grams[1])
    regctx, n1p = {}, {}
    for k in range(2, order + 1):
        regctx[k] = defaultdict(int)
        n1p[k] = defaultdict(int)
        for g, c in grams[k].items():
            regctx[k][g[:-1]] += c
            n1p[k][g[:-1]] += 1
    cont = {}
    for j in range(1, order):
        cont[j] = defaultdict(int)
        for g in grams[j + 1]:
            cont[j][g[1:]] += 1
    contctx, n1c = {}, {}
    for j in range(2, order):
        contctx[j] = defaultdict(int)
        n1c[j] = defaultdict(int)
        for g, c in cont[j].items():
            contctx[j][g[:-1]] += c
            n1c[j][g[:-1]] += 1
    cc1tot = sum(cont[1].values())
    n1c1 = len(cont[1])

    def disc(counter):
        n1 = sum(1 for c in counter.values() if c == 1)
        n2 = sum(1 for c in counter.values() if c == 2)
        return n1 / (n1 + 2 * n2) if n1 > 0 else 0.5

    d_reg = {k: disc(grams[k]) for k in range(2, order + 1)}
    d_cont = {j: disc(cont[j]) for j in range(1, order)}

    def prob(gram):
        k = len(gram)
        p = 1.0 / (V + 1)
        p = (
            max(cont[1].get(gram[-1:], 0) - d_cont[1], 0.0) / cc1tot
            + ((d_cont[1] * n1c1) / cc1tot) * p
        )
        for j in range(2, k):
            key, ckey = gram[-j:], gram[-j:-1]
            if ckey in contctx[j]:
                p = (
                    max(cont[j].get(key, 0) - d_cont[j], 0.0) / contctx[j][ckey]
                    + ((d_cont[j] * n1c[j][ckey]) / contctx[j][ckey]) * p
                )
        ctx = gram[:-1]
        if ctx in regctx[k]:
            p = (
                max(grams[k].get(gram, 0) - d_reg[k], 0.0) / regctx[k][ctx]
                + ((d_reg[k] * n1p[k][ctx]) / regctx[k][ctx]) * p
            )
        return p

    out = {}
    for i, text in enumerate(score_texts):
        ws = text.split()
        micros = []
        for pos in range(2, len(ws) + 1):
            k = min(pos, order)
            micros.append(_micro(math.log(prob(tuple(ws[pos - k:pos])))))
        if micros:
            out[i + 1] = (len(micros), _avg(micros))
    return out


def test_kn_order3_matches_python_reference(spark):
    train_texts = ["a b a b c a", "b a b a c", "c c a b a b"]
    score_texts = ["a b a b", "b c q a", "q q q q", "c a b"]
    want = _kn_reference(train_texts, score_texts, order=3)
    model = lm.train_ngram_lm(
        _docs(spark, list(enumerate(train_texts, 1))), order=3, smoothing="kn"
    )
    got = {
        r["doc_id"]: (r["n_scored"], r["avg_logprob"])
        for r in lm.score_documents_ngram(
            _docs(spark, list(enumerate(score_texts, 1))), model
        ).collect()
    }
    assert got == want


def _mkn_reference(train_texts, score_texts, order):
    """Independent plain-Python MODIFIED Kneser-Ney reimplementation
    (Chen & Goodman 1999 §3: three discounts D1/D2/D3+ per level keyed
    by count class, per-context class type-counts in the backoff mass).
    Operation order mirrors the Spark scorer exactly — the micro-nat
    comparison is bit-sensitive."""
    from collections import Counter, defaultdict

    toks = [t.split() for t in train_texts]
    grams = {
        k: Counter(
            tuple(ws[i:i + k]) for ws in toks for i in range(len(ws) - k + 1)
        )
        for k in range(1, order + 1)
    }
    V = len(grams[1])
    regctx, rcls = {}, {}
    for k in range(2, order + 1):
        regctx[k] = defaultdict(int)
        rcls[k] = defaultdict(lambda: [0, 0, 0])
        for g, c in grams[k].items():
            regctx[k][g[:-1]] += c
            rcls[k][g[:-1]][0 if c == 1 else 1 if c == 2 else 2] += 1
    cont = {}
    for j in range(1, order):
        cont[j] = defaultdict(int)
        for g in grams[j + 1]:
            cont[j][g[1:]] += 1
    contctx, ccls = {}, {}
    for j in range(2, order):
        contctx[j] = defaultdict(int)
        ccls[j] = defaultdict(lambda: [0, 0, 0])
        for g, c in cont[j].items():
            contctx[j][g[:-1]] += c
            ccls[j][g[:-1]][0 if c == 1 else 1 if c == 2 else 2] += 1
    cc1tot = sum(cont[1].values())
    m1 = [
        sum(1 for c in cont[1].values() if c == 1),
        sum(1 for c in cont[1].values() if c == 2),
        sum(1 for c in cont[1].values() if c >= 3),
    ]

    def discs(counter):
        n = {i: sum(1 for c in counter.values() if c == i) for i in (1, 2, 3, 4)}
        y = n[1] / (n[1] + 2 * n[2]) if n[1] > 0 else 0.5
        out = []
        for i, (num, den) in enumerate([(2, 1), (3, 2), (4, 3)], start=1):
            if n[den] > 0:
                raw = float(i) - float(i + 1) * y * n[num] / n[den]
                out.append(raw if raw > 0 else i / 2.0)
            else:
                out.append(i / 2.0)
        return out

    d_reg = {k: discs(grams[k]) for k in range(2, order + 1)}
    d_cont = {j: discs(cont[j]) for j in range(1, order)}

    def disc_of(ds, c):
        return ds[0] if c == 1 else ds[1] if c == 2 else ds[2]

    def gamma(ds, cls, denom):
        return (ds[0] * cls[0] + ds[1] * cls[1] + ds[2] * cls[2]) / denom

    def prob(gram):
        k = len(gram)
        p = 1.0 / (V + 1)
        c = cont[1].get(gram[-1:], 0)
        p = (
            max(c - disc_of(d_cont[1], c), 0.0) / cc1tot
            + gamma(d_cont[1], m1, cc1tot) * p
        )
        for j in range(2, k):
            key, ckey = gram[-j:], gram[-j:-1]
            if ckey in contctx[j]:
                c = cont[j].get(key, 0)
                p = (
                    max(c - disc_of(d_cont[j], c), 0.0) / contctx[j][ckey]
                    + gamma(d_cont[j], ccls[j][ckey], contctx[j][ckey]) * p
                )
        ctx = gram[:-1]
        if ctx in regctx[k]:
            c = grams[k].get(gram, 0)
            p = (
                max(c - disc_of(d_reg[k], c), 0.0) / regctx[k][ctx]
                + gamma(d_reg[k], rcls[k][ctx], regctx[k][ctx]) * p
            )
        return p

    out = {}
    for i, text in enumerate(score_texts):
        ws = text.split()
        micros = []
        for pos in range(2, len(ws) + 1):
            k = min(pos, order)
            micros.append(_micro(math.log(prob(tuple(ws[pos - k:pos])))))
        if micros:
            out[i + 1] = (len(micros), _avg(micros))
    return out


def test_mkn_order2_hand_computed_chain(spark):
    """train 'a b a b a c b c' — hand-derived modified-KN chain.

    Bigrams (a,b):2 (b,a):2 (a,c):1 (c,b):1 (b,c):1 → n1=3 n2=2:
      Y = 3/7, D1 = 1−2·(3/7)·2/3 = 3/7, D2 = 2−0 = 2, D3 = 1.5 (n3=0);
    rc2: a→(ccnt 3, N1 1, N2 1), b→(ccnt 3, N1 1, N2 1);
    cont1 cc: a:1 b:2 c:2 → cc1tot 5, classes m=(1,2,0); over {1,2,2}
      n1=1 n2=2 → Y=0.2, D1 = 1−2·0.2·2 = 0.2, D2 = 2, D3 = 1.5.

    Unigram level: γ1 = (0.2·1 + 2·2 + 1.5·0)/5 = 0.84, uniform 1/4:
      p̄(b) = max(2−2,0)/5 + 0.84·0.25 = 0.21
      p̄(z) = 0 + 0.21 = 0.21                          (unseen)
    Score 'a b z' (γ(a)=γ(b)=(3/7·1 + 2·1)/3):
      p(b|a) = max(2−D2,0)/3 + γ(a)·p̄(b) = (17/21)·0.21
      p(z|b) = 0 + γ(b)·p̄(z) = (17/21)·0.21"""
    train = _docs(spark, [(1, "a b a b a c b c")])
    model = lm.train_ngram_lm(train, order=2, smoothing="mkn")
    out = lm.score_documents_ngram(_docs(spark, [(9, "a b z")]), model).collect()
    r = out[0]
    assert r["n_scored"] == 2
    d1r = 1.0 - 2.0 * (3 / (3 + 2 * 2)) * 2 / 3          # reg D1 = 3/7
    d1c = 1.0 - 2.0 * (1 / (1 + 2 * 2)) * 2 / 1          # cont D1 = 0.2
    p_bar = max(2 - 2.0, 0.0) / 5 + (
        (d1c * 1 + 2.0 * 2 + 1.5 * 0) / 5
    ) * (1.0 / 4)
    gamma_ab = (d1r * 1 + 2.0 * 1 + 1.5 * 0) / 3
    p1 = max(2 - 2.0, 0.0) / 3 + gamma_ab * p_bar        # p(b|a)
    p2 = max(0 - 1.5, 0.0) / 3 + gamma_ab * p_bar        # p(z|b)
    micros = [_micro(math.log(p1)), _micro(math.log(p2))]
    assert r["avg_logprob"] == _avg(micros)


def test_mkn_order3_matches_python_reference(spark):
    train_texts = ["a b a b c a", "b a b a c", "c c a b a b", "a b c a b"]
    score_texts = ["a b a b", "b c q a", "q q q q", "c a b c"]
    want = _mkn_reference(train_texts, score_texts, order=3)
    model = lm.train_ngram_lm(
        _docs(spark, list(enumerate(train_texts, 1))), order=3,
        smoothing="mkn",
    )
    got = {
        r["doc_id"]: (r["n_scored"], r["avg_logprob"])
        for r in lm.score_documents_ngram(
            _docs(spark, list(enumerate(score_texts, 1))), model
        ).collect()
    }
    assert got == want


def test_mkn_order2_matches_python_reference(spark):
    train_texts = ["a b a b a c b c", "c a c a b b a"]
    score_texts = ["a b c", "z a b", "b b b"]
    want = _mkn_reference(train_texts, score_texts, order=2)
    model = lm.train_ngram_lm(
        _docs(spark, list(enumerate(train_texts, 1))), order=2,
        smoothing="mkn",
    )
    got = {
        r["doc_id"]: (r["n_scored"], r["avg_logprob"])
        for r in lm.score_documents_ngram(
            _docs(spark, list(enumerate(score_texts, 1))), model
        ).collect()
    }
    assert got == want


def test_mkn_no_singleton_corpus_scores_finite(spark):
    """Duplicated corpus: regular count tables have NO singletons, so
    D1's formula anchor (n1) is 0 — the i/2 fallbacks must keep every
    discount positive and every score finite, matching the reference."""
    base = ["a b a c", "b a c b", "c c a b"]
    train_texts = base + base
    score_texts = ["a b a c", "q q q q"]
    want = _mkn_reference(train_texts, score_texts, order=3)
    model = lm.train_ngram_lm(
        _docs(spark, list(enumerate(train_texts, 1))), order=3,
        smoothing="mkn",
    )
    rows = lm.score_documents_ngram(
        _docs(spark, list(enumerate(score_texts, 1))), model
    ).collect()
    for r in rows:
        assert r["avg_logprob"] is not None
    got = {r["doc_id"]: (r["n_scored"], r["avg_logprob"]) for r in rows}
    assert got == want


def test_kn_no_singleton_corpus_keeps_discount_positive(spark):
    """Round-13 ADVICE: a corpus whose count tables have doubletons but
    NO singletons (every sentence duplicated -> every regular k-gram
    count is even) made D = n1/(n1+2*n2) = 0, so unseen events got
    probability exactly 0 -> ln(0) = NULL micro in Spark and -inf in
    DuckDB.  The 0.5 fallback must fire whenever n1 == 0, not only when
    n1 == n2 == 0; scores stay finite and match the python reference."""
    base = ["a b a c", "b a c b", "c c a b"]
    train_texts = base + base  # duplicate: n1 = 0, n2 > 0 at reg levels
    score_texts = ["a b a c", "q q q q", "c a b"]
    want = _kn_reference(train_texts, score_texts, order=3)
    model = lm.train_ngram_lm(
        _docs(spark, list(enumerate(train_texts, 1))), order=3, smoothing="kn"
    )
    rows = lm.score_documents_ngram(
        _docs(spark, list(enumerate(score_texts, 1))), model
    ).collect()
    got = {r["doc_id"]: (r["n_scored"], r["avg_logprob"]) for r in rows}
    for r in rows:
        assert r["avg_logprob"] is not None, f"doc {r['doc_id']} scored NULL"
    assert got == want


def test_kn_rejects_pruning(spark):
    with pytest.raises(ValueError, match="min_count"):
        lm.train_ngram_lm(
            _docs(spark, [(1, "a b")]), order=2, min_count=2, smoothing="kn"
        )


def test_kn_registry_query_matches_oracle(spark, oracle):
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    qd = all_queries()["llm_lm_perplexity_kn"]
    assert_frames_match(
        qd.fn(spark, SF_DIR).toPandas(),
        oracle.execute(qd.oracle).fetchdf(),
        "llm_lm_perplexity_kn",
    )


def test_mkn_registry_query_matches_oracle(spark, oracle):
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    qd = all_queries()["llm_lm_perplexity_mkn"]
    assert_frames_match(
        qd.fn(spark, SF_DIR).toPandas(),
        oracle.execute(qd.oracle).fetchdf(),
        "llm_lm_perplexity_mkn",
    )
