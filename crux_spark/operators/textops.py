"""Text-analysis operators over document tables.

All hot-path expressions are built-in Catalyst functions (split /
regexp / array higher-order fns) — JVM-side, whole-stage-codegen'd, no
Python UDFs — so they hold up on a 100 TB documents table: embarrassingly
parallel per-row work, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small deterministic stopword list shared with oracle SQL
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return stop / F.size(toks)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ]."""
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9 ]", "")
    return F.length(stripped) / F.length(text)


def quality_score(text: Column) -> Column:
    """Length/stopword/punctuation quality heuristic in [0, 1]:
    long-enough docs with natural stopword density and low symbol noise
    score high. Deterministic, SQL-expressible (oracle-checkable)."""
    length_term = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(text) * 10.0, F.lit(1.0))
    return (length_term + stop_term + punct_term) / 3.0


def lang_guess(text: Column) -> Column:
    """N-gram/stopword language-ID heuristic (content-based; independent of
    any stored lang label)."""
    return (
        F.when(text.rlike(r"[一-鿿]"), F.lit("zh"))
        .when(stopword_ratio(text) >= 0.05, F.lit("en"))
        .otherwise(F.lit("unk"))
    )


def fingerprint(text: Column) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    whitespace-normalized text (rolling-hash equivalent for exact-dup
    detection after normalization)."""
    return F.xxhash64(F.regexp_replace(F.trim(text), r"\s+", " "))


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column family."""
    t = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(t))
        .withColumn("stop_ratio", F.round(stopword_ratio(t), 6))
        .withColumn("punct_ratio", F.round(punct_ratio(t), 6))
        .withColumn("quality", F.round(quality_score(t), 6))
        .withColumn("lang_guess", lang_guess(t))
        .withColumn("fp", fingerprint(t))
    )


# --- Gopher-style repetition filters (Rae et al. 2021, Table A1) -------
#
# Public quality heuristics for pretraining corpora: documents dominated
# by repeated lines or n-grams are boilerplate/spam. All four metrics are
# deterministic and oracle-checkable in DuckDB.


def _sum_lengths(arr: Column) -> Column:
    """Total characters across an array of strings (pure Catalyst)."""
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def dup_line_fraction(text: Column) -> Column:
    """Fraction of lines that are repeat occurrences (after the first)
    of another line in the same document."""
    lines = F.split(text, r"\n")
    return (F.size(lines) - F.size(F.array_distinct(lines))) / F.size(lines)


def dup_line_char_fraction(text: Column) -> Column:
    """Fraction of line characters sitting in repeat occurrences:
    (total line chars - chars of the distinct line set) / total."""
    lines = F.split(text, r"\n")
    tot = _sum_lengths(lines)
    return (tot - _sum_lengths(F.array_distinct(lines))) / F.greatest(
        tot, F.lit(1)
    )


def _ngrams_of(ws: Column, n: int) -> Column:
    """Word n-grams over an ALREADY-BOUND token array column: the lambda
    only does array access per element."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
    )


def repetition_metrics(df: DataFrame, doc_id_col: str = "doc_id",
                       text_col: str = "text", dup_n: int = 5,
                       top_n: int = 2) -> DataFrame:
    """Attach the Gopher repetition family: dup_line_frac and
    dup_line_char_frac stay per-row (lines per doc are few), while BOTH
    n-gram stats come from ONE shared exploded (doc, gram) aggregation.

    The dup-n-gram stat used to be a per-row
    ``array_distinct(word_ngrams)`` expression — Catalyst's
    array_distinct on string arrays is pairwise, O(tokens²) PER
    DOCUMENT, which is quadratic in doc length and pathological for the
    long-document tail of a real corpus. The exploded-count form is the
    same duplicate-char mass (Σ (cnt−1)·len over distinct grams ==
    Σ len over occurrences − Σ len over distinct) at O(tokens) map work
    plus the partial-agg shuffle the top-gram stat already paid for —
    and both families ride the SAME explode pass."""
    from crux_spark._conf import _spread

    t = F.col(text_col)
    # r16: both scans below do heavy per-row text work (line stats,
    # tokenize + two n-gram window slides); a single-split corpus file
    # otherwise runs each in ONE task (measured: 1.23s single-task
    # stage at sf0.1). _spread repartitions only when the scan cannot
    # fill the cores on its own.
    df = _spread(df)
    base = df.select(
        doc_id_col,
        F.round(dup_line_fraction(t), 6).alias("dup_line_frac"),
        F.round(dup_line_char_fraction(t), 6).alias("dup_line_char_frac"),
    )
    tag = lambda role, grams: F.transform(
        grams, lambda g: F.struct(F.lit(role).alias("r"), g.alias("g"))
    )
    # token array bound as a column BEFORE the window-slide lambdas — an
    # inline expression would be re-evaluated per gram position,
    # O(tokens²) per document (the rule dedup's shingle hashing follows)
    src = df.select(
        F.col(doc_id_col),
        F.length(text_col).alias("__chars"),
        tokens(F.lower(t)).alias("__ws"),
    )
    ws = F.col("__ws")
    fams = [tag("d", _ngrams_of(ws, dup_n))]
    if top_n != dup_n:
        fams.append(tag("t", _ngrams_of(ws, top_n)))
    grams = src.select(
        F.col(doc_id_col),
        "__chars",
        F.explode(F.concat(*fams) if len(fams) > 1 else fams[0]).alias(
            "__ng"
        ),
    )
    per_gram = grams.groupBy(doc_id_col, "__chars", "__ng").agg(
        F.count("*").alias("__cnt")
    )
    chars = F.greatest(F.first("__chars"), F.lit(1))
    is_dup = F.col("__ng.r") == "d"
    is_top = F.lit(True) if top_n == dup_n else (F.col("__ng.r") == "t")
    stats = per_gram.groupBy(doc_id_col).agg(
        (
            F.sum(
                F.when(
                    is_dup, (F.col("__cnt") - 1) * F.length("__ng.g")
                ).otherwise(F.lit(0))
            )
            / chars
        ).alias("dup_ngram_char_frac"),
        (
            F.max(
                F.when(
                    is_top, F.col("__cnt") * F.length("__ng.g")
                ).otherwise(F.lit(0))
            )
            / chars
        ).alias("top_ngram_char_frac"),
    )
    return base.join(stats, doc_id_col, "left").select(
        doc_id_col,
        "dup_line_frac",
        "dup_line_char_frac",
        F.round(F.coalesce("dup_ngram_char_frac", F.lit(0.0)), 6).alias(
            "dup_ngram_char_frac"
        ),
        F.round(F.coalesce("top_ngram_char_frac", F.lit(0.0)), 6).alias(
            "top_ngram_char_frac"
        ),
    )


# --- corpus-LM quality proxy (CCNet-style, without KenLM) --------------


def unigram_nll_scores(df: DataFrame, doc_id_col: str = "doc_id",
                       text_col: str = "text", vocab_size: int = 65536,
                       alpha: float = 0.5) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's OWN
    add-alpha-smoothed unigram distribution — the perplexity-bucket
    quality signal of CCNet/RefinedWeb, with the corpus itself as the LM
    (no external model in this container; swapping in KenLM changes only
    the scoring UDF, not the Spark shape). Low NLL = typical text; high
    NLL = gibberish/rare-token soup. Returns
    (doc_id, n_tokens, nll, ppl).

    Scale shape: pass 1 builds the token frequency table (one shuffle,
    map-side partial counts) and takes the top ``vocab_size`` terms
    (deterministic tie-break on the token string); pass 2 broadcasts the
    vocab back onto the exploded tokens and aggregates per doc (second
    shuffle, keyed by doc). OOV tokens score the smoothed floor
    alpha / (total + alpha*(V+1))."""
    toks = df.select(
        F.col(doc_id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt")).first()[0] or 0
    vocab = freq.orderBy(F.desc("cnt"), F.asc("tok")).limit(vocab_size)
    denom = float(total) + alpha * (vocab_size + 1)
    vocab = vocab.select(
        "tok", F.log((F.col("cnt") + F.lit(alpha)) / F.lit(denom)).alias("__lp")
    )
    import math

    floor = math.log(alpha / denom)
    scored = toks.join(F.broadcast(vocab), "tok", "left").select(
        doc_id_col, F.coalesce("__lp", F.lit(floor)).alias("__lp")
    )
    return scored.groupBy(doc_id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(-F.avg("__lp"), 6).alias("nll"),
        F.round(F.exp(-F.avg("__lp")), 4).alias("ppl"),
    )


# --- PII scrubbing (regex redaction, RE2-compatible patterns) ----------
#
# Patterns restricted to syntax valid in BOTH Java regex (Spark) and RE2
# (DuckDB), so the scrub is oracle-checkable. A production deployment
# swaps in a learned NER pass per language; the Spark shape (pure
# regexp_replace chain, zero Python) is the part that must scale.

PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    "phone": (r"\+[0-9][0-9() .-]{7,}[0-9]", "<PHONE>"),
}


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans in place and attach per-kind match counts
    (n_email / n_ipv4 / n_phone). Whole-stage-codegen'd regexp chain."""
    out = df
    scrubbed = F.col(text_col)
    for kind, (pat, repl) in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn(text_col, scrubbed)


# GPT-2-style pretokenizer (the public BPE pre-split regex): contraction
# suffixes, letter runs, digit runs, punctuation runs, trailing spaces.
# Java regex syntax (\p{L}/\p{N} unicode classes) — evaluated JVM-side.
_BPE_PRETOKEN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"


def bpe_ish_token_count(text: Column) -> Column:
    """Pretokenizer-level token count (the BPE pre-split, before merges):
    a closer proxy for LLM token budgets than whitespace words — digits,
    punctuation and contractions count separately. Pure regexp_count,
    zero Python."""
    return F.regexp_count(text, F.lit(_BPE_PRETOKEN))


def bpe_ish_tokens(text: Column) -> Column:
    """The pretokens themselves (array column), for inspection/tests."""
    return F.regexp_extract_all(text, F.lit(f"({_BPE_PRETOKEN})"), 1)


# --- Gopher document-level quality rules (Rae et al. 2021, Table A1) ---

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, doc_id_col: str = "doc_id",
                         text_col: str = "text",
                         min_words: int = 50, max_words: int = 100_000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         max_symbol_word_ratio: float = 0.1,
                         max_bullet_line_frac: float = 0.9,
                         max_ellipsis_line_frac: float = 0.3,
                         min_alpha_word_frac: float = 0.8,
                         min_stop_hits: int = 2) -> DataFrame:
    """The published Gopher document-level filter rules (Rae et al.
    2021, Table A1 — public heuristics), as per-row Catalyst
    expressions over a materialized token array (zero shuffle, fully
    codegen'd, DuckDB-oracle-checkable):

    - word count within [min_words, max_words];
    - mean word length within [min, max];
    - (# of '#' or '...') / words <= max_symbol_word_ratio;
    - fraction of lines starting with a bullet <= max_bullet_line_frac,
      ending with an ellipsis <= max_ellipsis_line_frac;
    - fraction of words containing an alphabetic char >= min;
    - at least min_stop_hits distinct common English stop words.

    Returns per-doc metric columns plus the combined `gopher_keep`."""
    src = df.select(
        F.col(doc_id_col),
        F.col(text_col).alias("__t"),
        tokens(F.col(text_col)).alias("__ws"),
        F.split(F.col(text_col), r"\n").alias("__lines"),
    )
    ws, lines, t = F.col("__ws"), F.col("__lines"), F.col("__t")
    n_words = F.size(ws)
    mean_wl = _sum_lengths(ws) / F.greatest(n_words, F.lit(1))
    n_symbols = (
        F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
        + (
            F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))
        ) / F.lit(3)
    )
    symbol_ratio = n_symbols / F.greatest(n_words, F.lit(1))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^([-*•])"))
    ) / n_lines
    ellipsis_frac = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    ) / n_lines
    alpha_frac = F.size(
        F.filter(ws, lambda w: w.rlike(r"[a-zA-Z]"))
    ) / F.greatest(n_words, F.lit(1))
    stop_hits = F.size(
        F.array_intersect(
            F.transform(ws, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    out = src.select(
        doc_id_col,
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("gopher_keep", keep)


def bigram_nll_scores(df: DataFrame, doc_id_col: str = "doc_id",
                      text_col: str = "text", vocab_size: int = 65536,
                      alpha: float = 0.5) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's OWN
    add-alpha-smoothed CONDITIONAL bigram distribution — the next step
    up from unigram_nll_scores toward the KenLM-order-5 scorer CCNet
    uses (Wenzek et al. 2020): a doc full of common words in an
    improbable ORDER now scores badly, which the unigram model cannot
    see. p(w|v) = (c(v,w)+alpha) / (c(v,·)+alpha*(V+1)), with the
    bigram table capped at the top ``vocab_size`` bigrams
    (deterministic tie-break on the bigram string); an out-of-vocab
    bigram under a KNOWN context scores the context's smoothed floor.
    Returns (doc_id, n_bigrams, nll, ppl) for every document with at
    least one bigram (>= 2 non-empty tokens).

    Scale shape: pass 1 builds bigram + context counts (two shuffles,
    map-side partial aggregation); the top-V bigram table broadcasts
    back onto the exploded bigram stream, the context table (corpus
    vocabulary — too big to assume broadcastable at 100 TB) joins by
    hash on the context token; final per-doc agg is one shuffle keyed
    by doc. Everything between is whole-stage-codegen'd array work —
    the bigram stream never materializes driver-side."""
    import math

    toks = F.filter(
        tokens(F.lower(F.col(text_col))), lambda t: t != ""
    )
    t = df.select(F.col(doc_id_col), toks.alias("__ws"))
    sz = F.size("__ws")
    pairs = F.when(
        sz >= 2,
        F.zip_with(
            F.slice("__ws", 1, sz - 1),
            F.slice("__ws", 2, sz - 1),
            lambda a, b: F.struct(
                a.alias("ctx"), F.concat_ws(" ", a, b).alias("big")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ctx:string,big:string>>"))
    rows = t.select(doc_id_col, F.explode(pairs).alias("__b")).select(
        doc_id_col, F.col("__b.ctx").alias("ctx"), F.col("__b.big").alias("big")
    )
    bg_freq = rows.groupBy("big").agg(F.count("*").alias("cnt"))
    ctx_freq = rows.groupBy("ctx").agg(F.count("*").alias("ccnt"))
    vocab = bg_freq.orderBy(F.desc("cnt"), F.asc("big")).limit(vocab_size)
    scored = (
        rows.join(F.broadcast(vocab), "big", "left")
        .join(ctx_freq, "ctx")
        .select(
            doc_id_col,
            F.log(
                (F.coalesce("cnt", F.lit(0)) + F.lit(alpha))
                / (F.col("ccnt") + F.lit(alpha * (vocab_size + 1)))
            ).alias("__lp"),
        )
    )
    return scored.groupBy(doc_id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg("__lp"), 6).alias("nll"),
        F.round(F.exp(-F.avg("__lp")), 4).alias("ppl"),
    )


def hashed_classifier_score(df: DataFrame, doc_id_col: str = "doc_id",
                            text_col: str = "text", seed: str = "clf",
                            scale: float = 4.0, bias: float = 0.0) -> DataFrame:
    """Linear text-classifier inference with the hashing trick (the
    fastText / Vowpal-Wabbit model shape: every token indexes a weight
    by hash — no vocabulary table, OOV impossible by construction):
    score = sigmoid(bias + scale * mean(w[h(token)])). The weights here
    are the seeded hash itself mapped to [-1, 1) — a stand-in for
    trained parameters (no model artifact ships in this container); a
    trained model changes ONLY the token->weight expression (or swaps
    in a broadcast weight table), not the plan.

    Scale shape: pure per-row Catalyst array work — tokenize, transform
    each token through md5 -> 16-bit bucket -> weight, sequential-fold
    sum, sigmoid. ZERO shuffle at any corpus size; the fold order is
    the array order, so scores are bit-deterministic and
    oracle-checkable. Returns (doc_id, n_tokens, raw, score); docs with
    no tokens are dropped (nothing to average)."""
    from crux_spark._conf import _spread

    # r16: one heavy per-row md5-per-token pass, single consumer —
    # same single-task-scan fix as c4_quality_flags (0.80s one-task
    # stage at sf0.1)
    df = _spread(df)
    toks = F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != "")
    w = F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + ":"), t)), 1, 4), 16, 10
        ).cast("long")
        / F.lit(32767.5)
        - F.lit(1.0),
    )
    n = F.size(w)
    raw = F.aggregate(w, F.lit(0.0), lambda acc, x: acc + x) / n
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(bias) + F.lit(scale) * raw)))
    return (
        df.select(
            F.col(doc_id_col),
            n.alias("n_tokens"),
            F.round(raw, 6).alias("raw"),
            F.round(score, 6).alias("score"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def c4_quality_flags(df: DataFrame, doc_id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2, the public
    description of the Colossal Clean Crawled Corpus): per LINE keep
    only lines that (a) end in a terminal punctuation mark (. ! ? "),
    (b) contain at least 3 words, (c) do not contain the word
    'javascript' (case-insensitive); per PAGE drop documents with fewer
    than 5 sentences, containing 'lorem ipsum', or containing a curly
    brace. Returns per doc: line counts, sentence count (terminal
    punctuation marks in the kept text), the page flags, the combined
    c4_keep decision and clean_text (kept lines rejoined).

    All per-row Catalyst expressions over one split — zero shuffle; at
    100 TB this is a map-only pass like the Gopher filter."""
    from crux_spark._conf import _spread

    # r16: the rules below are one heavy per-row regex/array pass; a
    # single-split corpus file otherwise runs it in ONE task (measured
    # 1.12s single-task stage at sf0.1). Size-conditional, single
    # consumer — the pass runs once, 32-wide, above the exchange.
    df = _spread(df)
    lines = F.split(F.col(text_col), "\n")
    is_kept = lambda l: (  # noqa: E731
        F.rtrim(l).rlike(r'[.!?"]$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= 3)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, is_kept)
    clean = F.array_join(kept, "\n")
    n_sent = F.length(F.regexp_replace(clean, r"[^.!?]", ""))
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{") | F.col(text_col).contains("}")
    return df.select(
        F.col(doc_id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_sent.cast("long").alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            (n_sent >= 5) & ~has_lorem & ~has_brace
        ).alias("c4_keep"),
        clean.alias("clean_text"),
    )


def dsir_log_ratios(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 65536,
    alpha: float = 0.5,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    every raw-corpus document by its log importance weight under hashed
    bag-of-words models of a TARGET distribution vs the RAW distribution
    — the published recipe for selecting pretraining data that looks
    like a target domain. Features are 16-bit md5 unigram buckets (the
    hashing trick; same hash space construction as
    hashed_classifier_score so a SQL oracle can rebuild it);
    per-feature log-ratio lambda(b) = log p_target(b) - log p_raw(b)
    with add-alpha smoothing over the bucket space; a document's weight
    is the sum of lambda over its tokens. Returns
    (doc_id, n_tokens, logw, logw_per_token).

    Scale shape: one count aggregate per corpus over at most n_buckets
    keys (map-side partials, kilobyte results), the lambda table
    broadcasts, and the per-doc score is one shuffle keyed by doc —
    the raw corpus is never joined against the target corpus.

    The bucket is derived FROM n_buckets (enough md5 hex chars to cover
    the space, then mod — at the 65536 default that reduces to the
    plain 4-hex-char prefix, bit-compatible with
    hashed_classifier_score's space), so the smoothing denominators and
    the feature space always describe the same number of buckets; a
    non-power-of-16 n_buckets carries the usual slight mod bias."""
    import math as _math

    nhex = min(15, max(1, _math.ceil(_math.log(max(n_buckets, 2), 16))))
    bucket = lambda tok: (  # noqa: E731 — md5 prefix, base-16, mod space
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), tok)), 1, nhex), 16, 10)
        .cast("long")
        % n_buckets
    )

    def bucketed(df):
        toks = df.select(
            F.col(doc_id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        ).filter(F.col("tok") != "")
        return toks.select(doc_id_col, bucket(F.col("tok")).alias("__b"))

    raw_toks = bucketed(docs)
    tgt_counts = (
        bucketed(target).groupBy("__b").agg(F.count("*").alias("__ct"))
    )
    raw_counts = raw_toks.groupBy("__b").agg(F.count("*").alias("__cr"))
    # r16: the corpus totals ride the plan as a broadcast 1-row frame
    # instead of two EAGER .first() jobs at build time (each was a full
    # serial tokenize+count pass whose aggregates were then recomputed
    # at execution; the count subtrees below now feed both consumers
    # through exchange reuse). Arithmetic is bit-identical: the denoms
    # are the same integer-total + alpha*n_buckets doubles, now built
    # by the SQL engine instead of the driver.
    tot = F.broadcast(
        raw_counts.agg(
            (F.coalesce(F.sum("__cr"), F.lit(0)).cast("double")
             + F.lit(float(alpha * n_buckets))).alias("__rd")
        ).crossJoin(
            tgt_counts.agg(
                (F.coalesce(F.sum("__ct"), F.lit(0)).cast("double")
                 + F.lit(float(alpha * n_buckets))).alias("__td")
            )
        )
    )
    lam = (
        raw_counts.join(tgt_counts, "__b", "full")
        .crossJoin(tot)
        .select(
            "__b",
            (
                F.log((F.coalesce("__ct", F.lit(0)) + F.lit(alpha)) / F.col("__td"))
                - F.log((F.coalesce("__cr", F.lit(0)) + F.lit(alpha)) / F.col("__rd"))
            ).alias("__lam"),
        )
    )
    floor = (
        F.log(F.lit(alpha) / F.col("__td")) - F.log(F.lit(alpha) / F.col("__rd"))
    )
    scored = (
        raw_toks.join(F.broadcast(lam), "__b", "left")
        .crossJoin(tot)
        .select(doc_id_col, F.coalesce("__lam", floor).alias("__lam"))
    )
    return scored.groupBy(doc_id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum("__lam"), 6).alias("logw"),
        F.round(F.avg("__lam"), 6).alias("logw_per_token"),
    )
