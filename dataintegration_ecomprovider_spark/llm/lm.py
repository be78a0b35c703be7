"""Count-based n-gram language-model scoring for corpus quality filtering.

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") filters web text by language-model
perplexity against a clean reference corpus; production pipelines use a
KenLM model.  This module is the same filter with the model TRAINED IN
THE ENGINE: a bigram LM with stupid backoff (Brants et al. 2007, "Large
Language Models in Machine Translation") — counts, not neural — so both
training and scoring are plain declarative aggregations/joins and the
whole computation is DuckDB-oracle-checkable.

Scoring rule, for token w following prev:

    score(w | prev) = c(prev, w) / c_ctx(prev)          if c(prev, w) > 0
                    = 0.4 * (c(w) + 1) / (N + V)        otherwise

where c_ctx(prev) = occurrences of prev as a predecessor in training,
c(w) = training unigram count, N = total training tokens, V = training
vocabulary size (so unseen words get the +1 floor — every score is > 0
and log-scores are always finite).

Cross-engine float determinism: each position's log-score is quantized
to integer MICRO-NATS (round(lp * 1e6) as BIGINT) before aggregation —
integer sums are exact and order-free, so Spark's partial-aggregation
order cannot drift from DuckDB's single-threaded sum.  The per-document
average micro-nat is then rounded half-away-from-zero IN INT64
((2·|sm| + n) div (2·n), signed) before ONE exact IEEE division by 1e6:
a double quotient rounded with ROUND(x, 6) can land arbitrarily close
to a 6th-decimal boundary where Spark (BigDecimal HALF_UP over the
shortest decimal repr) and DuckDB (double·1e6 → C round) disagree by
one ulp of OUTPUT — observed once in ~1500 scored fixture documents
at order 5; integer arithmetic cannot.  The only remaining float
compare is the round(3) perplexity of bit-identical doubles.

100 TB shape: training is two explode+count aggregations over the
REFERENCE corpus (typically a curated slice, orders of magnitude
smaller than the corpus being scored; ``min_count`` prunes the tail so
the model stays broadcast-sized — pruned n-grams simply back off).
Scoring is one pass over the target corpus: explode adjacent token
pairs, join the count tables (broadcast when the model is pruned,
shuffle-join otherwise), one integer aggregation per document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime

BACKOFF = 0.4
MICRO = 1_000_000


def _tokens(text: Column, lowercase: bool = True) -> Column:
    # explicit class instead of \s+: Java's \s includes \x0B, RE2's
    # (DuckDB oracle side) does not — the 5-char intersection keeps the
    # cross-engine value hashes safe for corpora containing vertical tabs
    base = F.lower(text) if lowercase else text
    return F.filter(
        F.split(F.trim(F.coalesce(base, F.lit(""))), r"[ \t\n\r\f]+"),
        lambda w: w != "",
    )


def _pairs(ws: Column) -> Column:
    """Adjacent (prev, w) pairs of a token array."""
    n = F.size(ws)
    return F.transform(
        F.slice(ws, F.lit(1), F.greatest(n - F.lit(1), F.lit(0))),
        lambda x, i: F.struct(
            x.alias("prev"), F.element_at(ws, i + F.lit(2)).alias("w")
        ),
    )


def _triples(ws: Column) -> Column:
    """Adjacent (u, v, w) triples of a token array."""
    n = F.size(ws)
    return F.transform(
        F.slice(ws, F.lit(1), F.greatest(n - F.lit(2), F.lit(0))),
        lambda x, i: F.struct(
            x.alias("u"),
            F.element_at(ws, i + F.lit(2)).alias("v"),
            F.element_at(ws, i + F.lit(3)).alias("w"),
        ),
    )


def _finalize(agg: DataFrame, id_col: str) -> DataFrame:
    """(id, n_scored, avg_logprob, ppl) from the (id, n_scored, sm)
    micro-nat aggregate, with the rounding decision taken in EXACT int64
    arithmetic: avg_micro = sign(sm) * ((2*|sm| + n) div (2*n)) is
    round-half-away-from-zero of sm/n, and avg_logprob = avg_micro/1e6
    is one correctly-rounded IEEE division of exactly-representable
    operands - bit-identical in Spark and DuckDB.  (The previous
    ROUND(sm/(n*1e6), 6) form put a double quotient arbitrarily close
    to 6th-decimal boundaries, where the engines' rounding paths can
    disagree by one output ulp - see the module docstring.)"""
    q = F.expr("(2 * abs(sm) + n_scored) div (2 * n_scored)")
    avg_micro = F.when(F.col("sm") < 0, -q).otherwise(q)
    fin = agg.select(
        F.col(id_col),
        "n_scored",
        (avg_micro / F.lit(float(MICRO))).alias("avg_logprob"),
    )
    return fin.select(
        F.col(id_col),
        "n_scored",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 3).alias("ppl"),
    )


def _kgrams(ws: Column, k: int) -> Column:
    """Adjacent k-gram structs (w1..wk) of a token array."""
    n = F.size(ws)
    return F.transform(
        F.slice(ws, F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(0))),
        lambda x, i: F.struct(
            x.alias("w1"),
            *[
                F.element_at(ws, i + F.lit(j + 1)).alias(f"w{j + 1}")
                for j in range(1, k)
            ],
        ),
    )


def train_ngram_lm(
    train_docs: DataFrame,
    order: int,
    text_col: str = "text",
    lowercase: bool = True,
    min_count: int = 1,
    smoothing: str = "sbo",
) -> dict:
    """Generic order-N count model (KenLM-grade filters use order 5 —
    Wenzek et al. 2020): unigrams + stats exactly as the bigram model,
    plus one (k-gram counts, (k-1)-prefix context totals) table pair per
    order k in 2..N — each pair is ONE more explode+count aggregation
    over the reference corpus, nothing else changes with order.

    Returns {"order", "unigrams", "stats", "grams": {k: df(w1..wk,
    cnt)}, "ctxs": {k: df(w1..w{k-1}, ccnt)}}.  Context totals come
    from the FULL count tables before ``min_count`` pruning, so pruned
    k-grams back off against true denominators (the bigram/trigram
    rule, generalized).

    ``smoothing="kn"`` returns an interpolated Kneser-Ney model instead
    (see train_kn_lm) — stupid backoff stays the scale default (Brants
    2007: at web scale SBO matches KN quality at a fraction of the
    cost), KN is the declared quality option (Chen & Goodman 1999)."""
    if order < 2:
        raise ValueError("n-gram LM needs order >= 2")
    if smoothing in ("kn", "mkn"):
        if min_count != 1:
            raise ValueError(
                "Kneser-Ney uses FULL count tables (pruning breaks the "
                "probability mass the discounts redistribute) — "
                "min_count must stay 1 with smoothing='kn'"
            )
        return train_kn_lm(
            train_docs, order, text_col, lowercase,
            modified=(smoothing == "mkn"),
        )
    if smoothing != "sbo":
        raise ValueError(
            f"smoothing must be 'sbo', 'kn' or 'mkn', got {smoothing!r}"
        )
    toks = train_docs.select(_tokens(F.col(text_col), lowercase).alias("ws"))
    uni_full = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ucnt"))
    )
    stats = uni_full.agg(
        F.sum("ucnt").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    grams: dict[int, DataFrame] = {}
    ctxs: dict[int, DataFrame] = {}
    for k in range(2, order + 1):
        cols = [f"w{j}" for j in range(1, k + 1)]
        full = (
            toks.select(F.explode(_kgrams(F.col("ws"), k)).alias("g"))
            .groupBy(*[F.col(f"g.{c}").alias(c) for c in cols])
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        ctxs[k] = full.groupBy(*cols[:-1]).agg(
            F.sum("cnt").cast("bigint").alias("ccnt")
        )
        grams[k] = full.filter(F.col("cnt") >= min_count)
    return {
        "order": order,
        "smoothing": "sbo",
        "unigrams": uni_full.filter(F.col("ucnt") >= min_count),
        "stats": stats,
        "grams": grams,
        "ctxs": ctxs,
    }


def _count_of_counts(df: DataFrame, cnt_col: str) -> DataFrame:
    """One-row (n1..n4) frame: how many TYPES occur exactly 1..4 times.
    n1/n2 feed the standard Kneser-Ney discount D = n1/(n1 + 2·n2)
    (Chen & Goodman 1999 eq. 26; Heafield 2011 uses the same rule per
    order); n3/n4 additionally feed the MODIFIED KN three-discount
    estimator (_mkn_discounts)."""
    return df.agg(
        *[
            F.sum(F.when(F.col(cnt_col) == i, 1).otherwise(0))
            .cast("bigint").alias(f"n{i}")
            for i in (1, 2, 3, 4)
        ]
    )


def _discount(n1: Column, n2: Column) -> Column:
    """D = n1/(n1 + 2·n2) ∈ (0, 1); 0.5 whenever the table has NO
    singletons (n1 == 0) — not just when it also lacks doubletons: with
    n1 = 0 and n2 > 0 the formula yields D = 0, which assigns unseen
    events probability exactly 0 and turns ln(p) into NULL micro in
    Spark / -inf in DuckDB (cross-engine divergence on degenerate
    corpora).  One bigint division — correctly rounded IEEE,
    bit-identical in Spark and DuckDB."""
    return F.when(n1 > 0, n1 / (n1 + F.lit(2) * n2)).otherwise(F.lit(0.5))


def _mkn_discounts(cc: DataFrame, suffix: str) -> DataFrame:
    """Modified Kneser-Ney three-discount estimates from a one-row
    count-of-counts frame (Chen & Goodman 1999 §3, the KenLM estimator
    default):

        Y  = n1 / (n1 + 2·n2)
        D1 = 1 − 2·Y·n2/n1      (applies to count-1 events)
        D2 = 2 − 3·Y·n3/n2      (count-2 events)
        D3 = 3 − 4·Y·n4/n3      (count-≥3 events)

    Degenerate-count fallbacks keep every discount strictly positive —
    a zero discount would leave unseen events probability exactly 0 at
    a level with no other discount classes (the ln(0) → NULL-micro
    failure the interpolated-KN n1==0 guard closes): whenever a
    formula's anchor count is 0 OR the formula goes non-positive, Di
    falls back to i/2 (0.5 / 1.0 / 1.5 — the half-of-class analog of
    the interpolated 0.5 rule).  Every op is a fixed-order IEEE
    double expression mirrored exactly in the generated DuckDB oracle
    and the pure-python test reference."""
    y = F.when(
        F.col("n1") > 0, F.col("n1") / (F.col("n1") + F.lit(2) * F.col("n2"))
    ).otherwise(F.lit(0.5))
    out = []
    for i, (num, den) in enumerate(
        [("n2", "n1"), ("n3", "n2"), ("n4", "n3")], start=1
    ):
        raw = (
            F.lit(float(i))
            - F.lit(float(i + 1)) * y * F.col(num) / F.col(den)
        )
        out.append(
            F.when((F.col(den) > 0) & (raw > 0), raw)
            .otherwise(F.lit(i / 2.0))
            .alias(f"d{i}_{suffix}")
        )
    return cc.select(*out)


def train_kn_lm(
    train_docs: DataFrame,
    order: int,
    text_col: str = "text",
    lowercase: bool = True,
    modified: bool = False,
) -> dict:
    """Interpolated Kneser-Ney count model (Chen & Goodman 1999; the
    KenLM estimation pipeline of Heafield 2011 builds the same tables):
    regular k-gram counts feed only the TOP level of each scoring chain;
    every lower level uses CONTINUATION counts — cc(g) = number of
    distinct one-word LEFT-extensions of g — so frequent-but-predictable
    words ("Francisco") stop inflating the backoff distribution.  Per
    level, probability mass D·N1+(c·)/denom is discounted from seen
    types and redistributed through the lower level, bottoming out at a
    uniform 1/(V+1) (the +1 reserves mass for out-of-vocabulary words,
    keeping every log-score finite without sentence markers).

    Everything is a declarative aggregation — no driver-side collect:
    even the discounts ride a one-row scalar frame (`kstats`) that the
    scorer cross-joins (broadcast).  Tables:

    - grams[k] (w1..wk, cnt), k = 2..N: FULL regular counts
    - regctx[k] (w1..w{k-1}, ccnt, n1p): context totals + distinct-
      extension counts N1+(c·) over grams[k]
    - cont[j] (w1..wj, cc), j = 1..N-1: continuation counts from
      grams[j+1] (each (j+1)-gram TYPE contributes one left-extension)
    - contctx[j] (w1..w{j-1}, mid, n1c), j = 2..N-1: per-context
      continuation totals N1+(·c·) + distinct-extension counts
    - kstats (vocab, cc1tot, n1c1, d_reg_k…, d_cont_j…): one row —
      unigram-level scalars + per-level discounts n1/(n1+2·n2)

    ``modified=True`` builds the MODIFIED Kneser-Ney variant (Chen &
    Goodman 1999 §3 — KenLM's estimator default): three discounts
    D1/D2/D3+ per level (from n1..n4, _mkn_discounts) applied by the
    event's count class, with per-context class type-counts
    N1(c·)/N2(c·)/N3+(c·) maintained beside the distinct-extension
    totals so each context's backoff mass is
    (D1·N1 + D2·N2 + D3+·N3+)/denom.  Same tables, three extra integer
    columns per context row and two extra scalar triples per level.

    100 TB shape: identical to the SBO trainer — explode+count over the
    (small, curated) reference corpus; the extra tables are GROUP BYs of
    tables already built.  The model stays broadcast-sized."""
    if order < 2:
        raise ValueError("n-gram LM needs order >= 2")

    def _classes(cnt_col: str) -> list:
        # per-context type counts by count class: exactly-1 / exactly-2 /
        # 3-or-more occurrences (the three discount classes)
        return [
            F.sum(F.when(F.col(cnt_col) == 1, 1).otherwise(0))
            .cast("bigint").alias("nc1"),
            F.sum(F.when(F.col(cnt_col) == 2, 1).otherwise(0))
            .cast("bigint").alias("nc2"),
            F.sum(F.when(F.col(cnt_col) >= 3, 1).otherwise(0))
            .cast("bigint").alias("nc3"),
        ]

    toks = train_docs.select(_tokens(F.col(text_col), lowercase).alias("ws"))
    uni_full = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ucnt"))
    )
    stats = uni_full.agg(
        F.sum("ucnt").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    grams: dict[int, DataFrame] = {}
    regctx: dict[int, DataFrame] = {}
    for k in range(2, order + 1):
        cols = [f"w{j}" for j in range(1, k + 1)]
        grams[k] = (
            toks.select(F.explode(_kgrams(F.col("ws"), k)).alias("g"))
            .groupBy(*[F.col(f"g.{c}").alias(c) for c in cols])
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        regctx[k] = grams[k].groupBy(*cols[:-1]).agg(
            F.sum("cnt").cast("bigint").alias("ccnt"),
            F.count(F.lit(1)).cast("bigint").alias("n1p"),
            *(_classes("cnt") if modified else []),
        )
    cont: dict[int, DataFrame] = {}
    contctx: dict[int, DataFrame] = {}
    for j in range(1, order):
        # continuation count of the j-gram (w2..w{j+1} of each (j+1)-gram
        # type): each DISTINCT (j+1)-gram is one left-extension type
        cont[j] = (
            grams[j + 1]
            .groupBy(
                *[
                    F.col(f"w{i + 2}").alias(f"w{i + 1}")
                    for i in range(j)
                ]
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("cc"))
        )
        if j >= 2:
            contctx[j] = cont[j].groupBy(
                *[f"w{i + 1}" for i in range(j - 1)]
            ).agg(
                F.sum("cc").cast("bigint").alias("mid"),
                F.count(F.lit(1)).cast("bigint").alias("n1c"),
                *(_classes("cc") if modified else []),
            )
    kstats = stats.select("vocab").crossJoin(
        cont[1].agg(
            F.sum("cc").cast("bigint").alias("cc1tot"),
            F.count(F.lit(1)).cast("bigint").alias("n1c1"),
            # unigram-level class scalars (the "context" is empty, so
            # the class counts collapse to three one-row totals)
            *(
                [
                    F.sum(F.when(F.col("cc") == 1, 1).otherwise(0))
                    .cast("bigint").alias("m1c1"),
                    F.sum(F.when(F.col("cc") == 2, 1).otherwise(0))
                    .cast("bigint").alias("m1c2"),
                    F.sum(F.when(F.col("cc") >= 3, 1).otherwise(0))
                    .cast("bigint").alias("m1c3"),
                ]
                if modified else []
            ),
        )
    )
    for k in range(2, order + 1):
        cc = _count_of_counts(grams[k], "cnt")
        kstats = kstats.crossJoin(
            _mkn_discounts(cc, f"reg_{k}")
            if modified
            else cc.select(
                _discount(F.col("n1"), F.col("n2")).alias(f"d_reg_{k}")
            )
        )
    for j in range(1, order):
        cc = _count_of_counts(cont[j], "cc")
        kstats = kstats.crossJoin(
            _mkn_discounts(cc, f"cont_{j}")
            if modified
            else cc.select(
                _discount(F.col("n1"), F.col("n2")).alias(f"d_cont_{j}")
            )
        )
    return {
        "order": order,
        "smoothing": "mkn" if modified else "kn",
        "stats": stats,
        "grams": grams,
        "regctx": regctx,
        "cont": cont,
        "contctx": contctx,
        "kstats": kstats,
    }


def score_documents_ngram(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, n_scored, avg_logprob, ppl) under the order-N stupid-backoff
    chain: position i scores w_i against its min(i−1, N−1)-word context
    (KenLM's shortened-context head positions), so n_scored = len−1 for
    every order and scores across orders are directly comparable.

        score(w | c_1..c_m) = 0.4^(m-m') · c(suffix m'-gram)/ctx      (longest
                              seen suffix of length m'+1, m' <= m)
                            = 0.4^m · (c(w)+1)/(N+V)                  (floor)

    Same micro-nat integer quantization as the fixed-order scorers;
    order 2 and 3 reproduce score_documents / score_documents_trigram
    bit-exactly (asserted in tests/test_lm.py).

    A model trained with smoothing="kn" or "mkn" dispatches to the
    Kneser-Ney scorer (score_documents_kn) — same framing, same
    micro-nat quantization, different probability rule."""
    if model.get("smoothing") in ("kn", "mkn"):
        return score_documents_kn(docs, model, text_col, id_col, lowercase)
    order = model["order"]
    base = docs.select(
        F.col(id_col), _tokens(F.col(text_col), lowercase).alias("ws")
    )
    stats = model["stats"]
    floor_lp = (
        F.log(F.coalesce(F.col("ucnt"), F.lit(0)) + F.lit(1))
        - F.log(F.col("n_total") + F.col("vocab"))
    )

    def scored_frame(rows: DataFrame, k: int) -> DataFrame:
        """Rows carry g1..gk (the k-gram whose last token is scored);
        join every suffix m-gram table (m = 2..k) + its context table +
        unigrams, then pick the longest seen suffix."""
        out = rows
        for m in range(2, k + 1):
            # suffix of length m: g_{k-m+1}..g_k
            sfx = [f"g{j}" for j in range(k - m + 1, k + 1)]
            gram = model["grams"][m]
            ren = gram.select(
                *[
                    F.col(f"w{j + 1}").alias(sfx[j])
                    for j in range(m)
                ],
                F.col("cnt").alias(f"cnt_{m}"),
            )
            out = out.join(ren, sfx, "left")
            ctx = model["ctxs"][m]
            cren = ctx.select(
                *[
                    F.col(f"w{j + 1}").alias(sfx[j])
                    for j in range(m - 1)
                ],
                F.col("ccnt").alias(f"ctx_{m}"),
            )
            out = out.join(cren, sfx[:-1], "left")
        out = out.join(
            model["unigrams"].withColumnRenamed("w", f"g{k}"), [f"g{k}"], "left"
        ).crossJoin(stats)
        lp = None
        for m in range(k, 1, -1):
            if m == k:
                term = F.log(F.col(f"cnt_{m}")) - F.log(F.col(f"ctx_{m}"))
            else:
                # left-to-right association mirrors the fixed-order
                # scorers exactly (micro-nat parity is association-
                # sensitive at the last ulp)
                term = (
                    F.lit(float(k - m)) * F.log(F.lit(BACKOFF))
                    + F.log(F.col(f"cnt_{m}"))
                    - F.log(F.col(f"ctx_{m}"))
                )
            cond = F.col(f"cnt_{m}").isNotNull()
            lp = F.when(cond, term) if lp is None else lp.when(cond, term)
        lp = lp.otherwise(
            F.lit(float(k - 1)) * F.log(F.lit(BACKOFF)) + floor_lp
        )
        return out.select(
            id_col,
            F.round(lp * F.lit(float(MICRO)), 0).cast("bigint").alias("micro"),
        )

    frames: list[DataFrame] = []
    for k in range(2, order):
        # exactly position k (context k-1 < N-1): the gram is ws[1..k]
        head = base.filter(F.size("ws") >= k).select(
            id_col,
            *[
                F.element_at(F.col("ws"), j + 1).alias(f"g{j + 1}")
                for j in range(k)
            ],
        )
        frames.append(scored_frame(head, k))
    sliding = base.select(
        F.col(id_col), F.explode(_kgrams(F.col("ws"), order)).alias("g")
    ).select(
        id_col,
        *[F.col(f"g.w{j + 1}").alias(f"g{j + 1}") for j in range(order)],
    )
    frames.append(scored_frame(sliding, order))
    scored = frames[0]
    for f in frames[1:]:
        scored = scored.unionByName(f)
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("micro").cast("bigint").alias("sm"),
    )
    return _finalize(agg, id_col)


def score_documents_kn(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, n_scored, avg_logprob, ppl) under interpolated Kneser-Ney
    (Chen & Goodman 1999): same framing as the stupid-backoff scorers —
    position i scores against its min(i−1, N−1)-word context, n_scored
    = len−1 — but the probability is the discounted-interpolated chain

        p(w | c)   = max(c(cw) − D, 0)/c(c·)
                   + (D·N1+(c·)/c(c·)) · p̄(w | c′)        (top: regular counts)
        p̄(w | c)  = max(cc(cw) − D, 0)/N1+(·c·)
                   + (D·N1+(c·)/N1+(·c·)) · p̄(w | c′)     (lower: continuation)
        p̄(w)      = max(cc(w) − D, 0)/B
                   + (D·N1c/B) · 1/(V+1)                   (B = distinct bigrams)

    with an unseen context collapsing its level (weight-1 pass-through to
    the next-shorter context).  Head positions (context shorter than N−1)
    score with the order-(m+1) chain whose top level uses the regular
    m+1-gram counts — exactly how a separately-trained order-(m+1) KN
    model scores, per Chen & Goodman's formulation.

    Float determinism: every probability is built with a FIXED operation
    order (term + (weight)·lower, each a single correctly-rounded IEEE
    op over bit-identical inputs), then ln → micro-nat integer
    quantization as in every other scorer, so the DuckDB oracle
    (generated by the same rules) matches bit for bit.

    Modified-KN models (smoothing="mkn") score the same chain with the
    three-discount rule: the discount subtracted from a seen event is
    keyed by its COUNT CLASS (D1 for count 1, D2 for 2, D3+ for ≥3),
    and each context's backoff mass is (D1·N1 + D2·N2 + D3+·N3+)/denom
    over the per-class type counts (Chen & Goodman 1999 §3).

    100 TB shape: one pass over the scored corpus; ~3 broadcast joins
    per chain level against broadcast-sized model tables; no shuffle of
    the corpus beyond the per-document integer aggregation."""
    order = model["order"]
    mod = model.get("smoothing") == "mkn"
    docs = runtime.spread_scan(docs)  # guide §2.5 (see score_documents)
    base = docs.select(
        F.col(id_col), _tokens(F.col(text_col), lowercase).alias("ws")
    )

    def _disc3(c, prefix: str):
        # count-class discount; the c == 0 arm lands on D3 but its term
        # is greatest(0 − D, 0) = 0 either way
        return (
            F.when(c == 1, F.col(f"d1_{prefix}"))
            .when(c == 2, F.col(f"d2_{prefix}"))
            .otherwise(F.col(f"d3_{prefix}"))
        )

    def _gamma3(prefix: str, c1, c2, c3, denom):
        # backoff mass: (D1·N1 + D2·N2 + D3·N3+)/denom, left-assoc sum
        return (
            F.col(f"d1_{prefix}") * c1
            + F.col(f"d2_{prefix}") * c2
            + F.col(f"d3_{prefix}") * c3
        ) / denom

    def scored_frame(rows: DataFrame, k: int) -> DataFrame:
        out = rows
        gcols = [f"g{j + 1}" for j in range(k)]
        gren = model["grams"][k].select(
            *[F.col(f"w{j + 1}").alias(gcols[j]) for j in range(k)],
            F.col("cnt").alias("cnt_top"),
        )
        out = out.join(gren, gcols, "left")
        rctx = model["regctx"][k].select(
            *[F.col(f"w{j + 1}").alias(gcols[j]) for j in range(k - 1)],
            F.col("ccnt").alias("ctx_top"),
            F.col("n1p").alias("n1p_top"),
            *(
                [F.col(f"nc{i}").alias(f"nc{i}_top") for i in (1, 2, 3)]
                if mod else []
            ),
        )
        out = out.join(rctx, gcols[:-1], "left")
        for j in range(1, k):
            # continuation level j looks up the LAST j tokens
            sfx = gcols[k - j:]
            cren = model["cont"][j].select(
                *[F.col(f"w{i + 1}").alias(sfx[i]) for i in range(j)],
                F.col("cc").alias(f"cc_{j}"),
            )
            out = out.join(cren, sfx, "left")
            if j >= 2:
                xren = model["contctx"][j].select(
                    *[F.col(f"w{i + 1}").alias(sfx[i]) for i in range(j - 1)],
                    F.col("mid").alias(f"mid_{j}"),
                    F.col("n1c").alias(f"n1c_{j}"),
                    *(
                        [F.col(f"nc{i}").alias(f"nc{i}_{j}") for i in (1, 2, 3)]
                        if mod else []
                    ),
                )
                out = out.join(xren, sfx[:-1], "left")
        out = out.crossJoin(model["kstats"])  # one broadcast row

        # probability chain, bottom-up — operation order FIXED to match
        # the generated oracle: term + (weight) * lower
        p = F.lit(1.0) / (F.col("vocab") + F.lit(1))
        c1 = F.coalesce(F.col("cc_1"), F.lit(0))
        if mod:
            t1 = (
                F.greatest(c1 - _disc3(c1, "cont_1"), F.lit(0.0))
                / F.col("cc1tot")
            )
            w1 = _gamma3(
                "cont_1", F.col("m1c1"), F.col("m1c2"), F.col("m1c3"),
                F.col("cc1tot"),
            )
        else:
            t1 = (
                F.greatest(c1 - F.col("d_cont_1"), F.lit(0.0))
                / F.col("cc1tot")
            )
            w1 = (F.col("d_cont_1") * F.col("n1c1")) / F.col("cc1tot")
        p = t1 + w1 * p
        for j in range(2, k):
            cj = F.coalesce(F.col(f"cc_{j}"), F.lit(0))
            if mod:
                tj = (
                    F.greatest(cj - _disc3(cj, f"cont_{j}"), F.lit(0.0))
                    / F.col(f"mid_{j}")
                )
                wj = _gamma3(
                    f"cont_{j}", F.col(f"nc1_{j}"), F.col(f"nc2_{j}"),
                    F.col(f"nc3_{j}"), F.col(f"mid_{j}"),
                )
            else:
                tj = (
                    F.greatest(cj - F.col(f"d_cont_{j}"), F.lit(0.0))
                    / F.col(f"mid_{j}")
                )
                wj = (
                    F.col(f"d_cont_{j}") * F.col(f"n1c_{j}")
                ) / F.col(f"mid_{j}")
            p = F.when(F.col(f"mid_{j}").isNull(), p).otherwise(tj + wj * p)
        ct = F.coalesce(F.col("cnt_top"), F.lit(0))
        if mod:
            tt = (
                F.greatest(ct - _disc3(ct, f"reg_{k}"), F.lit(0.0))
                / F.col("ctx_top")
            )
            wt = _gamma3(
                f"reg_{k}", F.col("nc1_top"), F.col("nc2_top"),
                F.col("nc3_top"), F.col("ctx_top"),
            )
        else:
            tt = (
                F.greatest(ct - F.col(f"d_reg_{k}"), F.lit(0.0))
                / F.col("ctx_top")
            )
            wt = (F.col(f"d_reg_{k}") * F.col("n1p_top")) / F.col("ctx_top")
        p = F.when(F.col("ctx_top").isNull(), p).otherwise(tt + wt * p)
        return out.select(
            id_col,
            F.round(F.log(p) * F.lit(float(MICRO)), 0).cast("bigint")
            .alias("micro"),
        )

    frames: list[DataFrame] = []
    for k in range(2, order):
        head = base.filter(F.size("ws") >= k).select(
            id_col,
            *[
                F.element_at(F.col("ws"), j + 1).alias(f"g{j + 1}")
                for j in range(k)
            ],
        )
        frames.append(scored_frame(head, k))
    sliding = base.select(
        F.col(id_col), F.explode(_kgrams(F.col("ws"), order)).alias("g")
    ).select(
        id_col,
        *[F.col(f"g.w{j + 1}").alias(f"g{j + 1}") for j in range(order)],
    )
    frames.append(scored_frame(sliding, order))
    scored = frames[0]
    for f in frames[1:]:
        scored = scored.unionByName(f)
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("micro").cast("bigint").alias("sm"),
    )
    return _finalize(agg, id_col)


def train_bigram_lm(
    train_docs: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    min_count: int = 1,
) -> dict[str, DataFrame]:
    """Count model from a reference corpus: unigrams, bigrams, context
    totals, and the (N, V) scalar stats — four small DataFrames.

    ``min_count`` > 1 prunes rare n-grams AFTER the scalar stats are
    taken (pruned entries back off at scoring time), keeping the model
    broadcast-sized for 100 TB scoring runs."""
    toks = train_docs.select(_tokens(F.col(text_col), lowercase).alias("ws"))
    uni_full = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ucnt"))
    )
    stats = uni_full.agg(
        F.sum("ucnt").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    big_full = (
        toks.select(F.explode(_pairs(F.col("ws"))).alias("p"))
        .groupBy(F.col("p.prev").alias("prev"), F.col("p.w").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    ctx = big_full.groupBy("prev").agg(F.sum("cnt").cast("bigint").alias("ccnt"))
    uni = uni_full.filter(F.col("ucnt") >= min_count)
    big = big_full.filter(F.col("cnt") >= min_count)
    return {"unigrams": uni, "bigrams": big, "contexts": ctx, "stats": stats}


def train_trigram_lm(
    train_docs: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    min_count: int = 1,
) -> dict[str, DataFrame]:
    """Order-3 count model: the bigram tables plus trigram counts and
    their (u, v) context totals — one more explode+count aggregation
    over the reference corpus, nothing else changes (the CCNet-quality
    step: KenLM-grade filters are 5-gram; the backoff chain here
    generalizes one order at a time with one extra count table per
    order).

    Context totals (ctx, ctx2) are taken from the FULL count tables
    before ``min_count`` pruning, so a pruned n-gram backs off against
    the true denominator rather than a truncated one."""
    model = train_bigram_lm(train_docs, text_col, lowercase, min_count)
    toks = train_docs.select(_tokens(F.col(text_col), lowercase).alias("ws"))
    tri_full = (
        toks.select(F.explode(_triples(F.col("ws"))).alias("t"))
        .groupBy(
            F.col("t.u").alias("u"), F.col("t.v").alias("v"),
            F.col("t.w").alias("w"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("tcnt"))
    )
    ctx2 = tri_full.groupBy("u", "v").agg(
        F.sum("tcnt").cast("bigint").alias("c2cnt")
    )
    model["trigrams"] = tri_full.filter(F.col("tcnt") >= min_count)
    model["contexts2"] = ctx2
    return model


def maintain_lm_model(
    spark,
    root: str,
    src: str = "documents",
    prefix: str = "lm",
    text_col: str = "text",
    id_col: str = "doc_id",
    train_lang: str | None = None,
    lang_col: str = "lang",
    lowercase: bool = True,
) -> dict:
    """CDC-maintained stored LM model, composed ENTIRELY from existing
    maintainers — no new refresh algebra:

    - ``<prefix>_bigrams``: per-doc adjacent-pair fan-out of the train
      slice (maintain_rowwise_view; updates re-explode only changed
      docs, deletes/slice-exits retract),
    - ``<prefix>_bigram_counts`` / ``<prefix>_ctx_counts``: exact-
      retraction COUNT aggregates of that table (maintain_aggregate),
    - ``<prefix>_tokens`` + ``<prefix>_unigram_counts``: same for
      unigrams.

    First call seeds everything; later calls consume only the source's
    CDC deltas down the chain, so each table always equals the matching
    ``train_bigram_lm`` count over the current train slice."""
    from dataintegration_ecomprovider_spark.plans import materialize

    def _slice(rows):
        return rows.filter(F.col(lang_col) == train_lang) if train_lang else rows

    def build_tokens(rows):
        toks = _slice(rows).select(
            F.col(id_col),
            F.posexplode(_tokens(F.col(text_col), lowercase)).alias("pos", "w"),
        )
        return toks.select(id_col, F.col("pos").cast("int"), "w")

    def build_bigrams(rows):
        return _slice(rows).select(
            F.col(id_col),
            F.posexplode(_pairs(_tokens(F.col(text_col), lowercase))).alias(
                "pos", "p"
            ),
        ).select(
            id_col, F.col("pos").cast("int"),
            F.col("p.prev").alias("prev"), F.col("p.w").alias("w"),
        )

    out = {
        "tokens": materialize.maintain_rowwise_view(
            spark, root, src, f"{prefix}_tokens", build_tokens,
            dst_keys=[id_col, "pos"], src_key=id_col,
            state_key=f"lm_tokens:{prefix}",
        ),
        "bigrams": materialize.maintain_rowwise_view(
            spark, root, src, f"{prefix}_bigrams", build_bigrams,
            dst_keys=[id_col, "pos"], src_key=id_col,
            state_key=f"lm_bigrams:{prefix}",
        ),
    }
    out["unigram_counts"] = materialize.maintain_aggregate(
        spark, root, f"{prefix}_tokens", f"{prefix}_unigram_counts", ["w"]
    )
    out["bigram_counts"] = materialize.maintain_aggregate(
        spark, root, f"{prefix}_bigrams", f"{prefix}_bigram_counts",
        ["prev", "w"],
    )
    out["ctx_counts"] = materialize.maintain_aggregate(
        spark, root, f"{prefix}_bigrams", f"{prefix}_ctx_counts", ["prev"]
    )
    return out


def score_documents(
    docs: DataFrame,
    model: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, n_scored, avg_logprob, ppl) per document with >= 2 tokens.

    avg_logprob = mean natural-log score per scored position (rounded
    to 6); ppl = exp(-avg_logprob) rounded to 3 — lower is more like
    the reference corpus."""
    # guide §2.5: the scored corpus is order-insensitive downstream
    # (integer micro-nat sums per doc); spread a single-file scan
    docs = runtime.spread_scan(docs)
    pos = docs.select(
        F.col(id_col), F.explode(_pairs(_tokens(F.col(text_col), lowercase))).alias("p")
    ).select(id_col, F.col("p.prev").alias("prev"), F.col("p.w").alias("w"))

    joined = (
        pos.join(model["bigrams"], ["prev", "w"], "left")
        .join(model["contexts"], ["prev"], "left")
        .join(model["unigrams"], ["w"], "left")
        .crossJoin(model["stats"])  # one broadcast row
    )
    # floor association is CANONICALLY pen + (b - c) across every scorer
    # and oracle in this engine: IEEE doubles differ by an
    # ulp under re-association and the micro-nat round-to-bigint is
    # last-ulp-sensitive, so ((a+b)-c) here vs (a+(b-c)) in the trigram /
    # order-N scorers could flake data-dependently
    lp = F.when(
        F.col("cnt").isNotNull(), F.log(F.col("cnt")) - F.log(F.col("ccnt"))
    ).otherwise(
        F.log(F.lit(BACKOFF))
        + (
            F.log(F.coalesce(F.col("ucnt"), F.lit(0)) + F.lit(1))
            - F.log(F.col("n_total") + F.col("vocab"))
        )
    )
    scored = joined.select(
        id_col, F.round(lp * F.lit(float(MICRO)), 0).cast("bigint").alias("micro")
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("micro").cast("bigint").alias("sm"),
    )
    return _finalize(agg, id_col)


def score_documents_trigram(
    docs: DataFrame,
    model: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, n_scored, avg_logprob, ppl) under the order-3 stupid-backoff
    chain: position i >= 3 scores w_i against its two-word context,
    position 2 against one word (KenLM's shortened-context head), so
    n_scored stays len-1 and the bigram and trigram scores of the same
    corpus are directly comparable.

        score(w | u, v) = c(u,v,w) / c_ctx2(u,v)        if seen
                        = 0.4 * c(v,w) / c_ctx(v)       elif bigram seen
                        = 0.4^2 * (c(w)+1) / (N+V)      otherwise

    Same micro-nat integer quantization as score_documents: per-position
    log-scores round to bigint before the per-document sum, so Spark's
    partial-aggregation order cannot drift from DuckDB's."""
    base = docs.select(
        F.col(id_col), _tokens(F.col(text_col), lowercase).alias("ws")
    )
    stats = model["stats"]
    floor_lp = (
        F.log(F.coalesce(F.col("ucnt"), F.lit(0)) + F.lit(1))
        - F.log(F.col("n_total") + F.col("vocab"))
    )

    # position 2: one-word context — exactly the bigram chain
    first = base.filter(F.size("ws") >= 2).select(
        id_col,
        F.element_at(F.col("ws"), 1).alias("prev"),
        F.element_at(F.col("ws"), 2).alias("w"),
    )
    j2 = (
        first.join(model["bigrams"], ["prev", "w"], "left")
        .join(model["contexts"], ["prev"], "left")
        .join(model["unigrams"], ["w"], "left")
        .crossJoin(stats)  # one broadcast row
    )
    lp2 = F.when(
        F.col("cnt").isNotNull(), F.log(F.col("cnt")) - F.log(F.col("ccnt"))
    ).otherwise(F.log(F.lit(BACKOFF)) + floor_lp)
    s2 = j2.select(
        id_col,
        F.round(lp2 * F.lit(float(MICRO)), 0).cast("bigint").alias("micro"),
    )

    # positions >= 3: two-word context with the full backoff chain
    tri = base.select(
        F.col(id_col), F.explode(_triples(F.col("ws"))).alias("t")
    ).select(
        id_col, F.col("t.u").alias("u"), F.col("t.v").alias("v"),
        F.col("t.w").alias("w"),
    )
    j3 = (
        tri.join(model["trigrams"], ["u", "v", "w"], "left")
        .join(model["contexts2"], ["u", "v"], "left")
        .join(model["bigrams"].withColumnRenamed("prev", "v"), ["v", "w"], "left")
        .join(model["contexts"].withColumnRenamed("prev", "v"), ["v"], "left")
        .join(model["unigrams"], ["w"], "left")
        .crossJoin(stats)
    )
    lp3 = (
        F.when(
            F.col("tcnt").isNotNull(),
            F.log(F.col("tcnt")) - F.log(F.col("c2cnt")),
        )
        .when(
            F.col("cnt").isNotNull(),
            F.log(F.lit(BACKOFF)) + F.log(F.col("cnt")) - F.log(F.col("ccnt")),
        )
        .otherwise(F.lit(2.0) * F.log(F.lit(BACKOFF)) + floor_lp)
    )
    s3 = j3.select(
        id_col,
        F.round(lp3 * F.lit(float(MICRO)), 0).cast("bigint").alias("micro"),
    )

    agg = s2.unionByName(s3).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("micro").cast("bigint").alias("sm"),
    )
    return _finalize(agg, id_col)
