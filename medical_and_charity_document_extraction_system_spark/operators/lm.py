"""Unigram language-model quality scoring (the KenLM-filter analog).

CCNet-style pipelines keep documents whose LM perplexity under an
in-domain model is low; without model binaries the deterministic,
engine-portable equivalent is a corpus-trained UNIGRAM model: the
top-V corpus terms get add-one-smoothed log-probabilities, every
other token scores the shared OOV log-prob, and a document's score
is its mean token log-probability (high = in-domain wording,
low = gibberish / off-vocabulary text).

Float discipline (the bm25 rule from CLAUDE.md, extended):
- log() is NOT correctly rounded, so every log-prob is computed ONCE
  driver-side with Python's math.log and injected into both engines
  as the same literal — engine-side ln never runs;
- the per-document score is a FIXED-ORDER fold: the vocab is sorted
  (count desc, term) when trained, and the score expression is an
  explicit left-associated chain cnt_0*lp_0 + cnt_1*lp_1 + ... +
  oov*lp_oov built in that order in BOTH engines — no engine
  aggregation order can perturb the sum;
- counts are integers; each cnt*lp product and each running add is
  one IEEE op applied in the same order, hence bit-identical.

The O(V) interpreted ``size(filter(...))`` per term mirrors
bm25_scores; for large vocabularies count terms in one vectorized
Arrow pass per document instead.

Scale shape: training is one explode + hash-agg + top-V limit (the
collect is V rows, driver-safe); scoring is a zero-shuffle
projection.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import tokens


def train_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 30,
) -> tuple[list[tuple[str, float]], float]:
    """Top-``vocab_size`` corpus terms with add-one-smoothed log-probs
    plus the OOV log-prob. Deterministic: ties broken by term text.
    Returns ([(term, logp)...] in (count desc, term) order, logp_oov).
    """
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total_terms = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).first()
    top = (
        counts.orderBy(F.col("c").desc(), F.col("t"))
        .limit(vocab_size)
        .collect()
    )
    # a token-free corpus trains the degenerate all-OOV model
    # (sum over zero rows is NULL, not 0)
    n, v = total_terms.n or 0, total_terms.v
    denom = n + v + 1  # add-one over the full vocab + one OOV bucket
    vocab = [(r.t, math.log((r.c + 1) / denom)) for r in top]
    logp_oov = math.log(1.0 / denom)
    return vocab, logp_oov


def unigram_lm_scores(
    df: DataFrame,
    vocab: list[tuple[str, float]],
    logp_oov: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Mean token log-prob per document under the trained unigram LM.
    Returns (id, *keep_cols, n_tokens, avg_logprob); empty docs score
    NULL. ``keep_cols`` are passed through untouched (ccnet_buckets
    carries the language column this way)."""
    thru = [F.col(c) for c in keep_cols]
    # _toks alone in the first projection: _n comes from the second
    # (size over the materialized column), so the interpreted
    # tokenize HOF runs once per row, not once per referencing expr
    base = df.select(
        F.col(id_col), *thru, tokens(F.col(text_col)).alias("_toks")
    )
    def _cnt(term: str) -> Column:
        # factory, not a default-arg lambda: a 2-arg lambda would make
        # F.filter pass the element INDEX as the second argument
        return F.size(F.filter("_toks", lambda x: x == F.lit(term))).cast("long")

    # materialize each per-term count ONCE (the interpreted HOF scan
    # is the dominant per-row cost; referencing the raw expression in
    # both the fold and the in-vocab sum would run it twice per term —
    # CollapseProject keeps non-cheap multi-referenced aliases
    # materialized, which is what makes this two-stage shape stick)
    base = base.select(
        F.col(id_col),
        *thru,
        F.size("_toks").alias("_n"),
        *[_cnt(t).alias(f"_c{i}") for i, (t, _) in enumerate(vocab)],
    )
    cnt_cols = [F.col(f"_c{i}") for i in range(len(vocab))]
    in_vocab: Column = F.lit(0).cast("long")
    for c in cnt_cols:
        in_vocab = in_vocab + c
    oov = F.col("_n").cast("long") - in_vocab
    # fixed-order left fold: (((c0*lp0 + c1*lp1) + ...) + oov*lp_oov);
    # an EMPTY vocab degrades to the all-OOV fold, not a crash
    score: Column = F.lit(0.0)
    for c, (_, lp) in zip(cnt_cols, vocab):
        score = score + c.cast("double") * F.lit(lp)
    score = score + oov.cast("double") * F.lit(logp_oov)
    return base.select(
        F.col(id_col),
        *thru,
        F.col("_n").cast("long").alias("n_tokens"),
        F.when(F.col("_n") > 0, score / F.col("_n").cast("double")).alias(
            "avg_logprob"
        ),
    )


def _train_bigram_raw(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 30,
    bigram_size: int = 30,
    backoff: float = 0.4,
) -> tuple[
    list[tuple[str, float]], float, dict[str, float], list[tuple[str, float]], float
]:
    """Shared trainer core for the bigram/trigram stupid-backoff
    models: returns (vocab, logp_oov, lb — raw log(c_pair/c_first)
    per table pair, bigram deltas, log_backoff). The raw ``lb`` map
    exists because the trigram deltas need each pair's bigram SCORE
    (the delta form isn't bit-exactly invertible: (lb - x - y) + y + x
    != lb in IEEE), so both models consume the same lb doubles."""
    vocab, logp_oov = train_unigram_lm(df, text_col, vocab_size)
    uni = dict(vocab)
    toks = tokens(F.col(text_col))
    base = df.select(toks.alias("_toks"))
    n1 = F.greatest(F.size("_toks") - 1, F.lit(0))
    pair_col = F.zip_with(
        F.slice("_toks", 1, n1),
        F.slice("_toks", 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    top = (
        base.select(F.explode(pair_col).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("p"))
        .limit(bigram_size)
        .collect()
    )
    firsts = sorted({r.p.split(" ", 1)[0] for r in top})
    ucnt = {
        r.t: r.c
        for r in df.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("t").isin(firsts))
        .collect()
    }
    log_backoff = math.log(backoff)
    lb: dict[str, float] = {}
    bigrams = []
    for r in top:
        t1, t2 = r.p.split(" ", 1)
        lb[r.p] = math.log(r.c / ucnt[t1])
        delta = lb[r.p] - log_backoff - uni.get(t2, logp_oov)
        bigrams.append((r.p, delta))
    return vocab, logp_oov, lb, bigrams, log_backoff


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 30,
    bigram_size: int = 30,
    backoff: float = 0.4,
) -> tuple[list[tuple[str, float]], float, list[tuple[str, float]], float]:
    """Stupid-backoff bigram LM (Brants et al. 2007, the published
    web-scale recipe) over the unigram base model: position i >= 2
    scores log(c(t_{i-1} t_i) / c(t_{i-1})) when the pair is one of
    the top-``bigram_size`` corpus bigrams, else log(backoff) +
    unigram(t_i); position 1 scores unigram(t_1).

    The document score factors into engine-portable integer-weighted
    literals:  sum_i s_i  =  unigram_fold  +  (n-1) * log(backoff)
    + sum_p cb_p * delta_p,   delta_p = lb_p - log(backoff) - u2_p —
    each consecutive position matches at most one pair literal, so
    counting pair occurrences (cb_p) replaces its backoff+unigram
    contribution exactly. Every log runs ONCE driver-side (Python
    math) and travels as a literal; training collects are bounded by
    vocab_size + bigram_size, never corpus size.

    Returns (vocab, logp_oov, [(pair, delta)...] in (count desc,
    pair) order, log_backoff). Pair keys are "t1 t2" — a single space
    is a safe join because the tokenizer splits on whitespace."""
    vocab, logp_oov, _, bigrams, log_backoff = _train_bigram_raw(
        df, text_col, vocab_size, bigram_size, backoff
    )
    return vocab, logp_oov, bigrams, log_backoff


def train_trigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 30,
    bigram_size: int = 30,
    trigram_size: int = 30,
    backoff: float = 0.4,
) -> tuple[
    list[tuple[str, float]],
    float,
    list[tuple[str, float]],
    float,
    list[tuple[str, float]],
]:
    """Stupid-backoff TRIGRAM LM — one more Brants-2007 backoff level
    over the bigram model (the KenLM-filter direction real CCNet-style
    pipelines take): position i >= 3 scores
    log(c(t_{i-2} t_{i-1} t_i) / c(t_{i-2} t_{i-1})) when the triple
    is one of the top-``trigram_size`` corpus trigrams, else
    log(backoff) + bigram_score(t_{i-1}, t_i).

    The same count-times-literal factoring holds one level up. With
    B(d) the bigram-model total (itself = unigram fold +
    (n-1)*log(backoff) + sum_p cb_p*delta_p), the trigram total is

        T(d) = B(d) + max(n-2, 0) * log(backoff)
                    + sum_g c3_g * delta3_g,
        delta3_g = lt_g - log(backoff) - bigram_score(pair23(g)),

    because every position i >= 3 either matches exactly one table
    trigram g (contributing lt_g - bigram_score(pair_i), and pair_i
    IS pair23(g)) or backs off (contributing exactly log(backoff) on
    top of the bigram score the B(d) term already pays). All logs are
    Python-computed literals; training collects are bounded by the
    three table sizes.

    Returns (vocab, logp_oov, bigram deltas, log_backoff,
    [(trigram, delta3)...] in (count desc, trigram) order)."""
    vocab, logp_oov, lb, bigrams, log_backoff = _train_bigram_raw(
        df, text_col, vocab_size, bigram_size, backoff
    )
    uni = dict(vocab)
    toks = tokens(F.col(text_col))
    base = df.select(toks.alias("_toks"))
    n1 = F.greatest(F.size("_toks") - 1, F.lit(0))
    n2 = F.greatest(F.size("_toks") - 2, F.lit(0))
    pair_col = F.zip_with(
        F.slice("_toks", 1, n1),
        F.slice("_toks", 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tri_col = F.zip_with(
        F.slice(pair_col, 1, n2),
        F.slice("_toks", 3, n2),
        lambda p, t: F.concat(p, F.lit(" "), t),
    )
    top3 = (
        base.select(F.explode(tri_col).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("g"))
        .limit(trigram_size)
        .collect()
    )
    # counts of each top trigram's LEADING pair (the lt denominator);
    # bounded collect: <= trigram_size rows
    firsts12 = sorted({r.g.rsplit(" ", 1)[0] for r in top3})
    c12 = {
        r.p: r.c
        for r in base.select(F.explode(pair_col).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("p").isin(firsts12))
        .collect()
    }
    trigrams = []
    for r in top3:
        pair12, _ = r.g.rsplit(" ", 1)
        _, pair23 = r.g.split(" ", 1)
        t3 = pair23.split(" ", 1)[1]
        lt = math.log(r.c / c12[pair12])
        bscore = (
            lb[pair23]
            if pair23 in lb
            else log_backoff + uni.get(t3, logp_oov)
        )
        trigrams.append((r.g, lt - log_backoff - bscore))
    return vocab, logp_oov, bigrams, log_backoff, trigrams


def trigram_lm_scores(
    df: DataFrame,
    vocab: list[tuple[str, float]],
    logp_oov: float,
    bigrams: list[tuple[str, float]],
    log_backoff: float,
    trigrams: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean token log-score per document under the stupid-backoff
    trigram LM. Returns (id, n_tokens, avg_logprob); empty docs NULL.
    Staged-projection discipline one stage deeper than
    bigram_lm_scores: tokens, then pairs + unigram counts, then
    triples + bigram counts, then trigram counts — every interpreted
    HOF evaluated once per row."""
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n1 = F.greatest(F.size("_toks") - 1, F.lit(0))
    base = base.select(
        F.col(id_col),
        F.size("_toks").alias("_n"),
        *[
            F.size(F.filter("_toks", _eq_factory(t))).cast("long").alias(f"_c{i}")
            for i, (t, _) in enumerate(vocab)
        ],
        F.zip_with(
            F.slice("_toks", 1, n1),
            F.slice("_toks", 2, n1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ).alias("_pairs"),
        F.slice("_toks", 3, F.greatest(F.size("_toks") - 2, F.lit(0))).alias(
            "_tail3"
        ),
    )
    n2 = F.greatest(F.col("_n") - 2, F.lit(0))
    base = base.select(
        F.col(id_col),
        F.col("_n"),
        *[F.col(f"_c{i}") for i in range(len(vocab))],
        *[
            F.size(F.filter("_pairs", _eq_factory(p))).cast("long").alias(f"_b{j}")
            for j, (p, _) in enumerate(bigrams)
        ],
        F.zip_with(
            F.slice("_pairs", 1, n2),
            F.col("_tail3"),
            lambda p, t: F.concat(p, F.lit(" "), t),
        ).alias("_tris"),
    )
    base = base.select(
        F.col(id_col),
        F.col("_n"),
        *[F.col(f"_c{i}") for i in range(len(vocab))],
        *[F.col(f"_b{j}") for j in range(len(bigrams))],
        *[
            F.size(F.filter("_tris", _eq_factory(g))).cast("long").alias(f"_t{k}")
            for k, (g, _) in enumerate(trigrams)
        ],
    )
    cnt_cols = [F.col(f"_c{i}") for i in range(len(vocab))]
    in_vocab: Column = F.lit(0).cast("long")
    for c in cnt_cols:
        in_vocab = in_vocab + c
    oov = F.col("_n").cast("long") - in_vocab
    # fixed-order left fold: the bigram fold verbatim, then the
    # trigram backoff term, then each trigram delta in (count desc,
    # trigram) order — mirrored verbatim in SQL
    score: Column = F.lit(0.0)
    for c, (_, lp) in zip(cnt_cols, vocab):
        score = score + c.cast("double") * F.lit(lp)
    score = score + oov.cast("double") * F.lit(logp_oov)
    score = score + (F.col("_n") - 1).cast("double") * F.lit(log_backoff)
    for j, (_, delta) in enumerate(bigrams):
        score = score + F.col(f"_b{j}").cast("double") * F.lit(delta)
    score = score + F.greatest(F.col("_n") - 2, F.lit(0)).cast("double") * F.lit(
        log_backoff
    )
    for k, (_, delta3) in enumerate(trigrams):
        score = score + F.col(f"_t{k}").cast("double") * F.lit(delta3)
    return base.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        F.when(F.col("_n") > 0, score / F.col("_n").cast("double")).alias(
            "avg_logprob"
        ),
    )


def bigram_lm_scores(
    df: DataFrame,
    vocab: list[tuple[str, float]],
    logp_oov: float,
    bigrams: list[tuple[str, float]],
    log_backoff: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean token log-score per document under the stupid-backoff
    bigram LM. Returns (id, n_tokens, avg_logprob); empty docs NULL.
    Same staged-projection discipline as unigram_lm_scores: the token
    array, then the pair array, then each interpreted-HOF count are
    materialized exactly once per row."""
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n1 = F.greatest(F.size("_toks") - 1, F.lit(0))
    base = base.select(
        F.col(id_col),
        F.size("_toks").alias("_n"),
        *[
            F.size(F.filter("_toks", _eq_factory(t))).cast("long").alias(f"_c{i}")
            for i, (t, _) in enumerate(vocab)
        ],
        F.zip_with(
            F.slice("_toks", 1, n1),
            F.slice("_toks", 2, n1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ).alias("_pairs"),
    )
    base = base.select(
        F.col(id_col),
        F.col("_n"),
        *[F.col(f"_c{i}") for i in range(len(vocab))],
        *[
            F.size(F.filter("_pairs", _eq_factory(p))).cast("long").alias(f"_b{j}")
            for j, (p, _) in enumerate(bigrams)
        ],
    )
    cnt_cols = [F.col(f"_c{i}") for i in range(len(vocab))]
    in_vocab: Column = F.lit(0).cast("long")
    for c in cnt_cols:
        in_vocab = in_vocab + c
    oov = F.col("_n").cast("long") - in_vocab
    # fixed-order left fold, unigram part first (identical to
    # unigram_lm_scores), then the backoff term, then each bigram
    # delta in (count desc, pair) order — mirrored verbatim in SQL
    score: Column = F.lit(0.0)
    for c, (_, lp) in zip(cnt_cols, vocab):
        score = score + c.cast("double") * F.lit(lp)
    score = score + oov.cast("double") * F.lit(logp_oov)
    score = score + (F.col("_n") - 1).cast("double") * F.lit(log_backoff)
    for j, (_, delta) in enumerate(bigrams):
        score = score + F.col(f"_b{j}").cast("double") * F.lit(delta)
    return base.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        F.when(F.col("_n") > 0, score / F.col("_n").cast("double")).alias(
            "avg_logprob"
        ),
    )


def _eq_factory(value: str):
    # factory, not a default-arg lambda: a 2-arg lambda would make
    # F.filter pass the element INDEX as the second argument
    return lambda x: x == F.lit(value)


def bigram_lm_pairs_expr(toks_expr: str) -> str:
    """DuckDB twin of the pair-array projection (1-based list index;
    range() is end-exclusive and empty when n < 2)."""
    return (
        f"list_transform(range(1, greatest(len({toks_expr}), 1)), "
        f"i -> {toks_expr}[i] || ' ' || {toks_expr}[i + 1])"
    )


def bigram_lm_count_exprs(
    bigrams: list[tuple[str, float]], pairs_expr: str
) -> list[str]:
    """One DuckDB count expression per bigram over the pre-projected
    pair array."""

    def cnt(p: str) -> str:
        esc = p.replace("'", "''")
        return f"len(list_filter({pairs_expr}, x -> x = '{esc}'))"

    return [cnt(p) for p, _ in bigrams]


def bigram_lm_fold_expr(
    vocab: list[tuple[str, float]],
    logp_oov: float,
    bigrams: list[tuple[str, float]],
    log_backoff: float,
    n_expr: str,
    cnt_cols: list[str],
    bigram_cols: list[str],
) -> str:
    """The identical fixed-order fold: unigram fold, then the
    (n-1)*log_backoff term, then each bigram delta."""
    parts = [
        unigram_lm_fold_expr(vocab, logp_oov, n_expr, cnt_cols),
        f"({n_expr} - 1) * CAST('{log_backoff!r}' AS DOUBLE)",
    ] + [
        f"{c} * CAST('{delta!r}' AS DOUBLE)"
        for c, (_, delta) in zip(bigram_cols, bigrams)
    ]
    return "(" + " + ".join(parts) + ")"


def trigram_lm_tris_expr(toks_expr: str) -> str:
    """DuckDB twin of the triple-array projection (1-based list
    index; range() is end-exclusive and empty when n < 3)."""
    return (
        f"list_transform(range(1, greatest(len({toks_expr}) - 1, 1)), "
        f"i -> {toks_expr}[i] || ' ' || {toks_expr}[i + 1] || ' ' || "
        f"{toks_expr}[i + 2])"
    )


def trigram_lm_count_exprs(
    trigrams: list[tuple[str, float]], tris_expr: str
) -> list[str]:
    """One DuckDB count expression per trigram over the pre-projected
    triple array."""

    def cnt(g: str) -> str:
        esc = g.replace("'", "''")
        return f"len(list_filter({tris_expr}, x -> x = '{esc}'))"

    return [cnt(g) for g, _ in trigrams]


def trigram_lm_fold_expr(
    vocab: list[tuple[str, float]],
    logp_oov: float,
    bigrams: list[tuple[str, float]],
    log_backoff: float,
    trigrams: list[tuple[str, float]],
    n_expr: str,
    cnt_cols: list[str],
    bigram_cols: list[str],
    trigram_cols: list[str],
) -> str:
    """The identical fixed-order fold: the bigram fold verbatim
    (parenthesizing a left-chain prefix does not change IEEE
    grouping), then the max(n-2, 0) backoff term, then each trigram
    delta."""
    parts = [
        bigram_lm_fold_expr(
            vocab, logp_oov, bigrams, log_backoff, n_expr, cnt_cols, bigram_cols
        ),
        f"greatest({n_expr} - 2, 0) * CAST('{log_backoff!r}' AS DOUBLE)",
    ] + [
        f"{c} * CAST('{delta!r}' AS DOUBLE)"
        for c, (_, delta) in zip(trigram_cols, trigrams)
    ]
    return "(" + " + ".join(parts) + ")"


def unigram_lm_count_exprs(
    vocab: list[tuple[str, float]], toks_expr: str
) -> list[str]:
    """One DuckDB count expression per vocab term — projected ONCE in
    a CTE so each token-array scan runs once (mirrors the Spark
    side's single-evaluation projection)."""

    def cnt(t: str) -> str:
        esc = t.replace("'", "''")
        return f"len(list_filter({toks_expr}, x -> x = '{esc}'))"

    return [cnt(t) for t, _ in vocab]


def unigram_lm_fold_expr(
    vocab: list[tuple[str, float]],
    logp_oov: float,
    n_expr: str,
    cnt_cols: list[str],
) -> str:
    """The identical fixed-order fold over pre-projected count
    columns (log-probs as quoted-repr literals; leading 0.0 matches
    the Spark fold's seed — IEEE-identical since 0.0 + x == x)."""
    terms = [
        f"{c} * CAST('{lp!r}' AS DOUBLE)"
        for c, (_, lp) in zip(cnt_cols, vocab)
    ]
    in_vocab = " + ".join(cnt_cols) if cnt_cols else "0"
    oov = f"({n_expr} - ({in_vocab}))"
    parts = ["CAST('0.0' AS DOUBLE)"] + terms + [
        f"{oov} * CAST('{logp_oov!r}' AS DOUBLE)"
    ]
    return "(" + " + ".join(parts) + ")"


def collocation_lift(
    corpus: DataFrame,
    top_k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Collocation extraction: rank adjacent word pairs by
    association lift — PMI's exponent,

        lift(x, y) = n_xy * N / (n_x * n_y)

    with N the total token count. High-lift pairs are multiword
    expressions ("los angeles", "machine learning") — the classic
    phrase-mining signal (Church & Hanks 1990) a corpus pipeline
    feeds to tokenizer/vocab construction.

    Float discipline: n_xy * N and n_x * n_y are EXACT int64 products
    (at 10^12-token scale promote to decimal/hugeint — int64 caps the
    cross-product at N * max_pair_count < 2^63) and the lift is ONE
    division of exact integers — reproducible in any IEEE engine, so
    no literal-injection is needed, unlike log-based PMI.

    Plan: bigram + unigram counts are two map-side-combinable aggs,
    joined on each pair's two member words (bigram-keyed joins, no
    hot reducer since pairs are near-unique); N is one bounded scalar
    collect. Top-k is a TakeOrdered, not a global sort."""
    toks = tokens(F.col(text_col))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    pair = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )
    pairs = corpus.select(F.explode(pair).alias("p")).select("p.x", "p.y")
    n_xy = pairs.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    uni = (
        corpus.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_w"))
    )
    total = uni.agg(F.sum("n_w")).collect()[0][0] or 0
    scored = (
        n_xy.where(F.col("n_xy") >= min_count)
        .join(uni.withColumnRenamed("w", "x").withColumnRenamed("n_w", "n_x"), "x")
        .join(uni.withColumnRenamed("w", "y").withColumnRenamed("n_w", "n_y"), "y")
        .select(
            F.concat(F.col("x"), F.lit(" "), F.col("y")).alias("pair"),
            "n_xy",
            "n_x",
            "n_y",
            (
                (F.col("n_xy") * F.lit(int(total)).cast("long")).cast("double")
                / (F.col("n_x") * F.col("n_y")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "pair").limit(top_k)
