"""Text analysis (north-star §2b): quality stats, token counting,
language ID, document fingerprinting.

All row-local Catalyst expressions — no shuffle at all until an optional
corpus-level rollup, so these scale trivially: 100 TB of documents is a
map-only pass.  The language-ID heuristic uses function-word evidence
with a fixed, documented tie-break order so results are deterministic
and SQL-oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import persist_stage
from ..functions.texttools import (
    punct_count_expr,
    rolling_hash_expr,
    token_count_expr,
    tokens_expr,
)
from ..session import repartition_width

# Function words per language, used as evidence by lang_id.  Tie-break =
# this dict's order (en, de, fr, es, zh) — encoded in the CASE cascade.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
    "zh": ["de5", "shi4", "le5", "he2", "zai4"],
}

# Fixed stopword set for the quality score's stopword ratio (order and
# content shared verbatim with the oracle SQL).
STOPWORDS: list[str] = ["the", "a", "and", "of", "to", "is", "in", "it"]


def text_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality profile: char/token counts, mean token length,
    punctuation count, distinct-token ratio (lexical diversity)."""
    t = F.col(text_col)
    toks = tokens_expr(t)
    n_toks = F.size(toks)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_calc"),
        n_toks.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.nullif(n_toks.cast("double"), F.lit(0.0)), 6
        ).alias("uniq_ratio"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.nullif(n_toks.cast("double"), F.lit(0.0)),
            6,
        ).alias("avg_token_len"),
        punct_count_expr(t).alias("n_punct"),
        F.round(
            F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
            / F.nullif(n_toks.cast("double"), F.lit(0.0)),
            6,
        ).alias("stopword_ratio"),
    )


def _marker_score(toks: Column, markers: list[str]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(markers)))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID from function-word counts.

    Deterministic argmax: first language in LANG_MARKERS order whose
    score equals the max; 'und' (undetermined) when all scores are 0.
    """
    toks = tokens_expr(F.col(text_col))
    scores = {lang: _marker_score(toks, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred: Column = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    out = df.select(F.col(id_col), pred.alias("lang_pred"))
    return out


def hashed_char_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    n_buckets: int = 256,
) -> DataFrame:
    """Signed hashing-trick features over CHARACTER n-grams — the
    language-ID feature map (fastText's subword shape, Joulin et al.
    2016): bucket = md5-first-32-bits mod n_buckets, sign = 9th-nibble
    parity (the hashed_features recipe applied to char n-grams of
    lower(text), spaces included).  Long-form (doc, bucket, weight);
    one explode (~n_chars rows per doc) + one map-side-combined hash
    aggregation bounded by docs x n_buckets — the standard corpus
    shape at 100 TB.  Integer + md5 end to end; oracle-exact."""
    from ..functions.texttools import char_ngrams_expr

    grams = df.select(
        F.col(id_col),
        F.explode(char_ngrams_expr(F.col(text_col), n)).alias("__g"),
    )
    digest = F.md5(F.col("__g"))
    bucket = (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(digest, 9, 1), 16, 10).cast("long") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        grams.select(F.col(id_col), bucket.alias("bucket"), sign.alias("__s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("__s").cast("long").alias("weight"))
    )


def lang_id_scored(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Trained language-ID: hashed char-trigram features dotted with
    the frozen per-language integer weight matrix
    (functions/langid_weights.py — multinomial logistic trained
    offline by scripts/train_langid.py on public function-word
    vocabulary, quantized x2000; held-out accuracy 1.0 on real-signal
    text).  The upgrade over the `lang_id` marker heuristic below.

    Join-free scoring: each language's weight vector lives as an
    in-plan 256-literal array indexed by bucket, so the 5 dot products
    fuse into ONE hash aggregation over the sparse long-form features
    (the linear_quality_margin plan shape).  Margins are exact BIGINT
    arithmetic; argmax tie-break = first language in frozen
    (de,en,es,fr,zh) order; docs with no trigram (len < 3) predict
    'und' with zero margins.  The DuckDB oracle replays every margin
    and the argmax bit-for-bit."""
    from ..functions.langid_weights import LANGID_LANGS, LANGID_WEIGHTS

    feats = hashed_char_ngram_features(df, text_col, id_col)
    from ..functions.arrays import lit_long_array

    # one-parse weight arrays (r12 optimization round — the
    # element-wise spelling cost ~1 s of py4j round-trips per build)
    luts = {
        lang: F.element_at(
            lit_long_array(LANGID_WEIGHTS[lang]).cast("array<int>"),
            F.col("bucket") + F.lit(1),
        )
        for lang in LANGID_LANGS
    }
    margins = feats.groupBy(id_col).agg(
        *[
            F.sum(F.col("weight") * luts[lang].cast("long"))
            .cast("long")
            .alias(f"s_{lang}")
            for lang in LANGID_LANGS
        ]
    )
    out = df.select(F.col(id_col)).join(margins, id_col, "left")
    s = {lang: F.coalesce(F.col(f"s_{lang}"), F.lit(0).cast("long")) for lang in LANGID_LANGS}
    best = F.greatest(*s.values())
    pred: Column = F.lit("und")
    for lang in reversed(LANGID_LANGS):
        pred = F.when(
            F.col(f"s_{lang}").isNotNull() & (s[lang] == best), F.lit(lang)
        ).otherwise(pred)
    return out.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        *[s[lang].alias(f"s_{lang}") for lang in LANGID_LANGS],
    )


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count per doc (the BPE-ish regex variant is
    token_count_bpe below)."""
    return df.select(F.col(id_col), token_count_expr(F.col(text_col)).alias("n_tokens"))


def token_count_bpe(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish subword proxy: count word pieces of ≤4 chars after
    splitting words every 4 characters — a deterministic stand-in for a
    real tokenizer (ceil(len/4) summed over words)."""
    toks = tokens_expr(F.col(text_col))
    pieces = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, x: a + F.ceil(F.length(x) / F.lit(4.0))
    )
    return df.select(F.col(id_col), pieces.alias("n_pieces"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic doc fingerprint: polynomial rolling hash (content-
    sensitive, engine-reproducible) + md5 digest."""
    return df.select(
        F.col(id_col),
        rolling_hash_expr(F.col(text_col)).alias("roll_hash"),
        F.md5(F.col(text_col)).alias("md5_hex"),
    )


def term_frequencies(
    df: DataFrame, text_col: str = "text", *, min_count: int = 1
) -> DataFrame:
    """Corpus-level term frequencies: explode + groupBy (map-side combine
    keeps the shuffle at |vocab|, not |tokens|)."""
    toks = df.select(F.explode(tokens_expr(F.col(text_col))).alias("term"))
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .where(F.col("term_count") >= min_count)
    )


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc token arrays — THE single tokenization pass.

    persist()'ed for the same reason as the minhash/ngram stages: its
    consumers are separate plan branches AQE will not dedup, so without
    the persist each downstream aggregate re-tokenizes the corpus
    (verified: 3 parquet scans per query).  The cache manager keys the
    entry on the canonicalized plan, so every token-derived query over
    the same corpus (tf_idf, surprisal, repetition stats) shares one
    entry across calls.  The repartition spreads tokenization across
    cores (test parquet is one row group) and pre-clusters by id so
    downstream per-doc aggregations are exchange-free.
    """
    par = repartition_width(df.sparkSession)
    return persist_stage(
        df.repartition(par, F.col(id_col))
        .select(F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
    )


def _doc_term_counts(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-(doc, term) occurrence counts over the shared token-array
    stage — the base aggregate for TF-IDF and surprisal.  Persisted
    itself because tf_idf consumes it on two branches (document
    frequency + scoring join); a refill only re-explodes the cached
    arrays, never re-tokenizes."""
    toks = _doc_tokens(df, text_col, id_col)
    terms = toks.select(F.col(id_col), F.explode("__toks").alias("term"))
    return persist_stage(
        terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc mean unigram surprisal −(1/n)·Σ ln p(tᵢ) against the
    corpus unigram distribution — the perplexity-style quality score
    (gibberish scores high, common boilerplate scores low).

    Works on the grouped (doc, term, tf) stage instead of raw token
    occurrences; Σ over occurrences of cast(ln_p AS DECIMAL) becomes
    Σ over terms of cast(ln_p AS DECIMAL(26,12)) × tf — the multiply
    stays inside DECIMAL(37,12) (no precision-loss adjustment), so the
    result is bit-identical to the oracle's per-occurrence decimal sum
    and order-independent (same contract as functions/money.py).
    """
    dt = _doc_term_counts(df, text_col, id_col)
    counts = dt.groupBy("term").agg(F.sum("tf").alias("tc"))
    total = dt.agg(F.sum("tf").alias("n_total"))
    lp = (
        dt.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "ln_p", F.log(F.col("tc").cast("double") / F.col("n_total"))
        )
    )
    weighted = F.col("ln_p").cast("decimal(26,12)") * F.col("tf").cast("decimal(10,0)")
    return lp.groupBy(id_col).agg(
        F.round(
            (-F.sum(weighted)).cast("double") / F.sum("tf"),
            6,
        ).alias("mean_surprisal"),
        F.sum("tf").alias("n_tokens"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per doc: the fraction
    of token occurrences taken by the most-frequent unigram
    (top_term_frac = max tf / n_tokens) and the fraction of BIGRAM
    occurrences taken by the most-frequent bigram (top_bigram_frac =
    max bigram count / (n_tokens − 1) — a bigram fraction, not a token
    fraction; the oracle mirrors this denominator).  Documents
    dominated by one repeated phrase (top fractions → 1.0) are the
    boilerplate/spam a training-data pipeline filters out.

    Unigram side reads the shared persisted (doc, term, tf) stage;
    bigram side derives bigrams from the SAME cached token arrays —
    the corpus is tokenized once for both branches (and shared with
    tf_idf / surprisal).  Docs with no tokens are absent (nothing to
    score); single-token docs carry a NULL bigram fraction.
    """
    from ..functions.texttools import bigrams_from_tokens

    dt = _doc_term_counts(df, text_col, id_col)
    uni = dt.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.round(F.max("tf") / F.sum("tf"), 6).alias("top_term_frac"),
    )
    toks = _doc_tokens(df, text_col, id_col)
    bg = (
        toks.select(
            F.col(id_col), F.explode(bigrams_from_tokens(F.col("__toks"))).alias("bg")
        )
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"))
    )
    return uni.join(bg, id_col, "left").select(
        id_col, "n_tokens", "top_term_frac", "top_bigram_frac"
    )


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_buckets: int = 256,
) -> DataFrame:
    """Hashing-trick text features (Weinberger et al. 2009): each term
    maps to bucket = md5-first-32-bits mod n_buckets with a sign from
    the digest's 9th hex nibble's parity (independent bits of the SAME
    digest — one hash evaluation per term), and a document's feature
    vector is the signed term-frequency sum per bucket.  The signed
    variant keeps collisions unbiased (E[collision contribution] = 0),
    which is why it beats unsigned counting at small n_buckets.

    Emitted LONG-FORM — (doc, bucket, weight), zero rows for empty
    buckets — the sparse layout a trainer's collector wants and the
    layout an engine can verify exactly.  Rides the shared
    `_doc_term_counts` stage (no extra tokenization), then one hash
    aggregation whose output is bounded by docs x n_buckets.  All
    arithmetic is integer + md5 — engine-portable; the oracle replays
    every bucket and weight exactly.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    tc = _doc_term_counts(df, text_col, id_col)
    digest = F.md5(F.col("term"))
    bucket = (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(digest, 9, 1), 16, 10).cast("long") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tc.select(
            F.col(id_col),
            bucket.alias("bucket"),
            (sign * F.col("tf")).cast("long").alias("__signed_tf"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.sum("__signed_tf").cast("long").alias("weight"))
    )


def tf_idf(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per (doc, term) TF-IDF: tf = in-doc count, idf = ln(N/df).

    Built on the shared persisted (doc, term, tf) stage — document
    frequency and the scoring join both read the cached aggregate, so
    the corpus is tokenized once (and shared with unigram_surprisal).
    ln is computed in double with a fixed expression shape so an SQL
    oracle reproduces it bit-for-bit.
    """
    tf = _doc_term_counts(df, text_col, id_col)
    dfreq = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tf_idf"),
        )
    )


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_word_len: float = 3.0,
    max_word_len: float = 5.0,
    min_stopword_ratio: float = 0.01,
    max_top_term_frac: float = 0.15,
) -> DataFrame:
    """Gopher-style composite quality verdict per document (Rae et al.
    2021, "Scaling Language Models" §A1.1 filtering heuristics), the
    pass/fail gate a training-data pipeline applies before dedup:

      ok_len         — token count within [min_tokens, max_tokens]
      ok_word_len    — mean token length within [min_word_len, max_word_len]
      ok_stopwords   — stopword occurrence ratio >= min_stopword_ratio
      ok_repetition  — most-frequent term's share <= max_top_term_frac
      passes         — conjunction of the four

    ALL four signals derive from the one shared persisted
    (doc, term, tf) aggregate: n = Σtf, mean word length =
    Σ len(term)·tf / n, stopword ratio = Σ tf[term∈stoplist] / n, top
    term share = max tf / n.  One tokenization, one per-doc aggregation,
    no second scan — at 100 TB the marginal cost over computing any one
    signal is zero.  Ratio comparisons are integer-sum / integer-count
    double divisions, bit-identical across engines, so threshold
    comparisons cannot flip between this and a SQL oracle.

    Default thresholds are tuned to the synthetic corpus so the filter
    is non-vacuous in both directions (each rule fails a real slice);
    production corpora retune via the keyword parameters.
    """
    dt = _doc_term_counts(df, text_col, id_col)
    sig = dt.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        (
            F.sum(F.length("term") * F.col("tf")).cast("double")
            / F.sum("tf")
        ).alias("__awl"),
        (
            F.sum(F.when(F.col("term").isin(STOPWORDS), F.col("tf")).otherwise(0)).cast(
                "double"
            )
            / F.sum("tf")
        ).alias("__swr"),
        (F.max("tf").cast("double") / F.sum("tf")).alias("__ttf"),
    )
    flags = sig.select(
        F.col(id_col),
        F.col("n_tokens"),
        ((F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)).alias(
            "ok_len"
        ),
        ((F.col("__awl") >= min_word_len) & (F.col("__awl") <= max_word_len)).alias(
            "ok_word_len"
        ),
        (F.col("__swr") >= min_stopword_ratio).alias("ok_stopwords"),
        (F.col("__ttf") <= max_top_term_frac).alias("ok_repetition"),
    )
    return flags.withColumn(
        "passes",
        F.col("ok_len")
        & F.col("ok_word_len")
        & F.col("ok_stopwords")
        & F.col("ok_repetition"),
    )


def bigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc mean bigram surprisal −(1/n)·Σ ln P(w₂|w₁) under the
    corpus bigram model with add-1 smoothing over the unigram
    vocabulary — the conditional-probability upgrade of
    unigram_surprisal (templated boilerplate scores LOW even when its
    unigrams are rare, because its transitions are predictable; docs
    with unusual word ORDER score high).

    P(w₂|w₁) = (c(w₁,w₂) + 1) / (c₁'(w₁) + V) where c₁' counts w₁ in
    non-final positions (Σ over bigrams starting with w₁ — consistent
    with the numerator by construction) and V = |unigram vocabulary|.

    All counting reads the ONE shared token-array stage; the per-doc
    sum uses the same DECIMAL(26,12)·tf regrouping as
    unigram_surprisal, so the result is order-independent and equals
    the oracle's per-occurrence decimal sum bit-for-bit.  Docs with
    fewer than 2 tokens are absent (no transitions to score).
    """
    from ..functions.texttools import bigrams_from_tokens

    toks = _doc_tokens(df, text_col, id_col)
    bg = toks.select(
        F.col(id_col), F.explode(bigrams_from_tokens(F.col("__toks"))).alias("bg")
    )
    dbg = persist_stage(
        bg.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("tf2"))
    )
    c2 = dbg.groupBy("bg").agg(F.sum("tf2").alias("c2"))
    c1 = (
        c2.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    vocab = toks.select(F.explode("__toks").alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    lp = (
        dbg.join(c2, "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "ln_p",
            F.log(
                (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
            ),
        )
    )
    weighted = F.col("ln_p").cast("decimal(26,12)") * F.col("tf2").cast(
        "decimal(10,0)"
    )
    return lp.groupBy(id_col).agg(
        F.round(
            (-F.sum(weighted)).cast("double") / F.sum("tf2"), 6
        ).alias("mean_bigram_surprisal"),
        F.sum("tf2").alias("n_bigrams"),
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc zlib compression ratio — the classic "machine-generated
    or boilerplate" quality signal (highly repetitive text compresses
    far below natural prose).  This is deliberately the repo's one
    text-family Pandas UDF: DEFLATE has no Catalyst expression, and the
    UDF-policy measurement (PLANS.md "UDF policy") says Arrow-batched
    is the acceptable form — the batch reaches Python as one Arrow
    buffer, zlib runs at C speed, and the plan stays map-only
    (ArrowEvalPython, no shuffle).

    ratio = compressed_len / raw_len over utf-8 bytes (level 6);
    empty text → ratio NULL.  No SQL oracle (DuckDB has no zlib);
    the planted-fixture tests pin the discriminative behavior.
    """
    import pandas as pd  # noqa: F401 - resolves the stringified hints
    from pyspark.sql.functions import pandas_udf

    def _ratio_fn(texts):
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    # explicit annotations (not `from __future__` strings): the module
    # defers annotation evaluation, which breaks pandas_udf's hint
    # resolution for locally-imported pandas
    _ratio_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _ratio = pandas_udf(_ratio_fn, "double")

    return df.select(
        id_col, F.round(_ratio(F.col(text_col)), 6).alias("compression_ratio")
    )


def source_term_entropy(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source vocabulary (Shannon) entropy — the diversity signal
    of a corpus slice: H = −Σ_t p_t·ln p_t over the source's term
    distribution.  Low entropy = templated/machine text; a drop
    against the corpus baseline is the classic symptom of a scraped
    mirror or boilerplate flood.

    Same determinism discipline as unigram_surprisal: ln p is cast to
    DECIMAL(26,12) BEFORE the ×count weighting, so the per-source sum
    is exact decimal arithmetic — order-independent and bit-identical
    to the oracle replaying the same casts (the ~1-ulp engine
    difference in ln() is absorbed by the 12-decimal quantization).
    One explode → one (source, term) count → per-source totals joined
    back — every aggregation map-side combined.
    """
    from ..functions.texttools import tokens_expr

    terms = df.select(
        F.col(source_col).alias("source"),
        F.explode(tokens_expr(F.col(text_col))).alias("term"),
    )
    c = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("ct"))
    n = c.groupBy("source").agg(
        F.sum("ct").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    j = c.join(n, "source").withColumn(
        "ln_p", F.log(F.col("ct").cast("double") / F.col("n_tokens"))
    )
    weighted = F.col("ln_p").cast("decimal(26,12)") * F.col("ct").cast(
        "decimal(10,0)"
    )
    return j.groupBy("source", "n_tokens", "vocab").agg(
        F.round(
            (-F.sum(weighted)).cast("double") / F.col("n_tokens"), 6
        ).alias("entropy")
    ).select("source", "n_tokens", "vocab", "entropy")
