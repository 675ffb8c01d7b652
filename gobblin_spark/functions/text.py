"""Text-analysis functions for large-scale training-data pipelines.

Two tiers, chosen per op:
- Pure Column expressions (JVM-side, whole-stage-codegen) for
  everything relational — token counting, quality scoring, language
  ID, fingerprinting, shingles, PII redaction, Gopher metrics,
  perplexity. These run at scan speed over 100 TB and each has an
  exact ANSI-SQL twin used as the DuckDB oracle. Character counts keep
  their ``regexp_count`` form in the oracle; the engine counts what a
  run-deleting ``regexp_replace`` (or ``replace``) removes from the
  length (identical values, no per-match string arrays).
- Arrow-batched pandas UDFs ONLY where the algorithm is genuinely
  imperative: BPE segmentation (data-dependent merge loop) and zlib
  compression ratio (DEFLATE). Deterministic, unit-tested against
  reference Python, rows-only at the driver gate by design.
"""

from __future__ import annotations

import string
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language stopword marker lists for the n-gram/stopword
# language-ID heuristic. Word-boundary regexes keep this expressible in
# both Spark and DuckDB SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "y", "es"],
}

# Rough BPE-ish tokenizer: word pieces, numbers, or single non-space
# punctuation — a portable stand-in for a real subword vocab.
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Java regex's ASCII ``\s`` class, spelled out as characters.
_SPACE_CHARS = " \t\n\x0b\f\r"


def _count_chars(col: Column, chars: str) -> Column:
    """Code points of ``col`` that are in ``chars`` — the same count as
    ``regexp_count(col, '[chars]')`` without building a match array.

    Deletes whole RUNS of class characters with one ``regexp_replace``
    and subtracts lengths: the compiled class tests each character in
    place, where ``translate`` looks each one up in a string-keyed hash
    map.
    ``chars`` is literal: the class metacharacters ``\\ [ ] ^ - &``
    are escaped here."""
    cls = "".join("\\" + c if c in "\\[]^-&" else c for c in chars)
    return F.length(col) - F.length(F.regexp_replace(col, f"[{cls}]+", ""))


def whitespace_token_count(col: Column) -> Column:
    """Number of whitespace-separated tokens (0 for empty/blank)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish tokens (letters runs + digit runs + punct chars)."""
    return F.regexp_count(col, F.lit(BPE_ISH_REGEX))


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    n = F.length(col)
    # [^A-Za-z0-9\s]: every char that is not alphanumeric or \s
    p = n - _count_chars(
        col, string.ascii_letters + string.digits + _SPACE_CHARS)
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def alpha_ratio(col: Column) -> Column:
    """Alphabetic chars / total chars (0 for empty)."""
    n = F.length(col)
    a = _count_chars(col, string.ascii_letters)
    return F.when(n == 0, F.lit(0.0)).otherwise(a.cast("double") / n.cast("double"))


def quality_score(col: Column) -> Column:
    """Composite doc-quality heuristic in [0,1]:
    mean of (alpha_ratio, 1 - punct_ratio, min(1, tokens/20)).
    Deterministic arithmetic — identical in the SQL oracle."""
    toks = whitespace_token_count(col).cast("double")
    length_term = F.least(F.lit(1.0), toks / F.lit(20.0))
    return F.round(
        (alpha_ratio(col) + (F.lit(1.0) - punct_ratio(col)) + length_term) / F.lit(3.0),
        6,
    )


def lang_id(col: Column) -> Column:
    """Heuristic language ID: most stopword-marker hits wins; zero hits
    → 'und' (undetermined). Ties resolve to the alphabetically smallest
    language code (deterministic; 'de' beats 'en' on a tie)."""
    lowered = F.lower(col)
    scores = {
        lang: F.regexp_count(
            lowered, F.lit(r"\b(" + "|".join(words) + r")\b")
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = sorted(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    out = F.lit("und")
    # reversed so that earlier (alphabetically smaller) languages win ties
    for lang in reversed(langs):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    # null text propagates null (like fingerprint/quality_score) —
    # 'und' is a real verdict for zero-marker text, not a null fill
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(best == 0, F.lit("und")).otherwise(out))


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, turn every run of
    non-[a-z0-9] characters (whitespace included) into one space, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint = md5 of normalized text (content-defined id).

    A portable stand-in for a rolling hash: any engine computing the
    same normalization + md5 produces the same id, which is what makes
    cross-run / cross-engine dedup joins possible.
    """
    return F.md5(normalize_text(col))


def word_shingles(df: DataFrame, text_col: str, n: int = 3, out_col: str = "shingle") -> DataFrame:
    """Distinct word n-gram shingles per row (for Jaccard / MinHash).

    Adds ``out_col``; one output row per (row, distinct shingle).
    Documents with fewer than n words produce one shingle of all words.
    Empty/blank documents produce NO shingles (they would otherwise all
    share the single '' shingle and read as Jaccard-1 duplicates of each
    other); null-text rows likewise emit nothing.

    The word array is materialized as its own projection BEFORE the
    shingle lambda: referencing the split expression inside
    ``transform`` would re-evaluate the regex normalization once per
    array element (measured ~30x slower) — common-subexpression
    elimination does not reach into lambda bodies.
    """
    words_df = df.withColumn("__gs_words", F.split(normalize_text(F.col(text_col)), " "))
    w = F.col("__gs_words")
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))
    return (
        words_df.withColumn(out_col, F.explode(F.array_distinct(shingles)))
        .filter(F.col(out_col) != "")
        .drop("__gs_words")
    )


# PII patterns kept RE2-portable (no lookaround) so the SAME regex runs
# in Spark, DuckDB, and Python re — redaction must be oracle-checkable.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # two RE2-portable shapes: parenthesized-area-code phones (spaces
    # allowed) and dense 9+-digit runs (no spaces — a space separator
    # there would swallow ISO datetimes like '2021-08-15 12:34', and
    # plain dates are only 8 digits; audit r8)
    (r"(\+?\d{0,3}[ .\-]?\(\d{3}\)[ .\-]?\d{3}[ .\-]?\d{4}"
     r"|\+?\d(?:[().\-]?\d){8,})", "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Training-data PII scrubbing: emails, IPv4s, and phone-shaped
    digit runs replaced with typed placeholder tokens (the CCNet/Dolma
    pre-training cleanup step). Chained ``regexp_replace`` — global
    replacement, scan-speed, no Python."""
    out = col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def gopher_quality_metrics(col: Column) -> dict[str, Column]:
    """The Gopher document-quality rule inputs (Rae et al. 2021,
    "Scaling Language Models", Table A1 heuristics), each as a pure
    Column expression so the whole filter runs at scan speed:

    - word_count: whitespace tokens
    - mean_word_len: characters per token (0 for empty)
    - symbol_word_ratio: '#'/'…'/'...' occurrences per word
    - alpha_word_ratio: fraction of words containing a letter
    - stopword_hits: count of common-English-stopword occurrences

    Every metric is oracle-checkable: the DuckDB oracle keeps the regex
    form, while the engine counts space characters and symbols by what
    ``regexp_replace`` and ``replace`` delete — identical values, no
    per-match arrays. Null text counts as empty (fails the word-count floor)
    rather than poisoning downstream AND chains with SQL nulls."""
    col = F.coalesce(col, F.lit(""))
    trimmed = F.trim(col)
    words = F.split(trimmed, r"\s+")
    wc = F.when(trimmed == "", F.lit(0)).otherwise(F.size(words))
    wc_d = wc.cast("double")
    # mean word length over non-space characters
    nonspace = F.length(trimmed) - _count_chars(trimmed, _SPACE_CHARS)
    mean_len = F.when(wc == 0, F.lit(0.0)).otherwise(
        nonspace.cast("double") / wc_d)
    # '...' occurrences are counted left to right without overlap, as
    # regexp_count does: each one removed shortens the text by 3
    ellipses = (F.length(col) -
                F.length(F.replace(col, F.lit("..."), F.lit("")))) / 3
    symbols = _count_chars(col, "#…") + ellipses
    sym_ratio = F.when(wc == 0, F.lit(0.0)).otherwise(
        symbols.cast("double") / wc_d)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio_w = F.when(wc == 0, F.lit(0.0)).otherwise(
        alpha_words.cast("double") / wc_d)
    stop_hits = F.regexp_count(
        F.lower(col), F.lit(r"\b(the|be|to|of|and|that|have|with)\b"))
    return {
        "word_count": wc,
        "mean_word_len": mean_len,
        "symbol_word_ratio": sym_ratio,
        "alpha_word_ratio": alpha_ratio_w,
        "stopword_hits": stop_hits,
    }


def gopher_quality_pass(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """Gopher rules as one boolean (document survives the filter).
    Thresholds are the published defaults; tune per corpus."""
    m = gopher_quality_metrics(col)
    return (
        m["word_count"].between(min_words, max_words)
        & m["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
        & (m["symbol_word_ratio"] <= max_symbol_word_ratio)
        & (m["alpha_word_ratio"] >= min_alpha_word_ratio)
        & (m["stopword_hits"] >= min_stopword_hits)
    )


def gopher_repetition_metrics(col: Column, gram_n: int = 2) -> dict[str, Column]:
    """Gopher repetition-rule inputs (Rae et al. 2021, Table A1 lower
    half), computed ROW-LOCALLY with higher-order array functions — no
    explode, no shuffle; the whole filter stays inside one codegen
    stage over the scan:

    - dup_line_fraction: 1 − distinct/total non-blank lines
    - dup_line_char_fraction: characters sitting on duplicate line
      occurrences / total line characters
    - top_ngram_char_fraction: characters covered by the single most
      frequent word n-gram / non-space characters (array_sort + one
      linear run-length fold — O(g log g) row-local, zero exchange)

    Null text counts as empty (all metrics 0)."""
    col = F.coalesce(col, F.lit(""))
    lines = F.filter(F.split(col, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    d_lines = F.size(F.array_distinct(lines))
    dup_line_frac = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - d_lines.cast("double") / n_lines.cast("double"))
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l))
    # chars on occurrences beyond each line's first appearance
    dup_chars = line_chars - F.aggregate(
        F.array_distinct(lines), F.lit(0).cast("long"),
        lambda acc, l: acc + F.length(l))
    dup_line_char_frac = F.when(line_chars == 0, F.lit(0.0)).otherwise(
        dup_chars.cast("double") / line_chars.cast("double"))

    words = F.split(normalize_text(col), " ")
    nw = F.size(F.filter(words, lambda w: w != ""))
    idx = F.sequence(F.lit(0), F.greatest(nw - gram_n, F.lit(0)))
    grams = F.when(nw < gram_n, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, gram_n))))
    # most frequent gram: sort the grams so equal grams are adjacent,
    # then one linear fold tracking (prev, run_len, best). best packs
    # count·10⁶ + gram_len — count-major with longer-gram tiebreak;
    # decode → chars = count × letters-in-gram (joiner spaces excluded)
    def _step(acc, g):
        run = (
            F.when(g == acc.prev, acc.run + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(
                acc.best, run * F.lit(1000000) + F.length(g)
            ).alias("best"),
        )

    packed = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _step,
        lambda acc: acc.best,
    )
    top_chars = F.when(packed == 0, F.lit(0).cast("long")).otherwise(
        F.floor(packed / F.lit(1000000)).cast("long")
        * (F.pmod(packed, F.lit(1000000)) - F.lit(gram_n - 1)))
    nonspace = F.length(F.regexp_replace(normalize_text(col), " ", ""))
    # overlapping occurrences share characters, so count*len can
    # exceed the document — a "fraction" above 1 breaks thresholding;
    # cap at 1.0 (full coverage) like the RefinedWeb implementations
    top_frac = F.when(nonspace == 0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0),
                top_chars.cast("double") / nonspace.cast("double")))
    return {
        "dup_line_fraction": dup_line_frac,
        "dup_line_char_fraction": dup_line_char_frac,
        "top_ngram_char_fraction": top_frac,
    }


def repetition_ratio(col: Column) -> Column:
    """Repeated-token fraction: 1 − distinct_words/total_words over
    whitespace tokens (0 for empty). High values flag boilerplate/spam
    documents (the RefinedWeb/Gopher repetition filters); exactly
    expressible in DuckDB list functions for the oracle."""
    words = F.split(F.trim(col), r"\s+")
    n = F.size(words)
    d = F.size(F.array_distinct(words))
    return F.when((F.trim(col) == "") | col.isNull(), F.lit(0.0)).otherwise(
        F.lit(1.0) - d.cast("double") / n.cast("double")
    )


def token_counts(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary: (token, n) over normalized whitespace tokens.

    The canonical map-side-combined word count: explode + groupBy; the
    shuffle carries one (token, partial_count) row per distinct token
    per task, not per occurrence. At 100 TB the output is vocabulary-
    sized (millions of rows), never corpus-sized."""
    toks = df.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token")
    ).filter(F.col("token") != "")
    out = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms: (id, token, tf, df_t, score_ppb).

    score = (tf / doc_tokens) · (N / df_t), emitted as exact-comparable
    floor(score·10⁹) — products and divisions of doubles are IEEE-
    deterministic across engines, unlike ln(): the classic ln-damped idf
    would make the output engine-dependent in the last ulp, so the raw
    rational form is used for the checked surface. Ties break on token
    order. Shuffle budget: one groupBy on (id, token), one on token
    (doc-frequency — vocabulary-sized), one window by id for top-k.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    doc_len = tf.groupBy(id_col).agg(F.sum("tf").alias("doc_tokens"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.select(id_col).distinct().count()
    scored = (
        tf.join(doc_len, id_col)
        .join(dfreq, "token")
        .withColumn(
            "score_ppb",
            F.floor(
                (F.col("tf").cast("double") / F.col("doc_tokens").cast("double"))
                * (F.lit(float(n_docs)) / F.col("df_t").cast("double"))
                * F.lit(1000000000.0)
            ).cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_ppb").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "token", "tf", "df_t", "score_ppb",
                F.col("rank").cast("int").alias("rank"))
    )


def unigram_lm(train: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram language model from a reference corpus: one row per
    word with its count and the corpus total (CCNet trains a KenLM on
    Wikipedia and scores CommonCrawl by perplexity — Wenzek et al.
    2020 §3.3; the unigram tier keeps the whole computation
    SQL-exact). One explode + one groupBy; the total rides along as a
    window-free cross-joinable 1-row aggregate folded in here so the
    LM is a single self-contained DataFrame (word, n, total).

    The vocab-sized counts table persists (r14): the LM feeds
    multiple plan sites downstream (the total fold here, the scorer's
    word join, its vocab/total scalar) and the AQE-final perplexity
    plan showed 11 distinct shuffle stages with NO runtime exchange
    reuse — the TRAINING CORPUS was re-tokenized at each site. Same
    convention as the bigram LM (r13) and the signature/tf-idf
    tables: slim derived tables persist, corpora never do. A/B at
    sf0.1 (arm-alternating): see text_perplexity_scores in
    OPTIMIZATION_r14.md."""
    words = (
        train.select(
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    counts = words.groupBy("word").agg(F.count("*").alias("n")).persist()
    total = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(total))


def perplexity_scores(
    score: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Mean negative log-probability per token under *lm* (log-domain
    perplexity; exp() of it is the conventional number — kept as the
    log so the oracle's arithmetic is identical). Add-alpha smoothing
    over the training vocabulary V handles OOV tokens:

        p(w) = (n_w + alpha) / (total + alpha * (V + 1))

    Plan: explode score tokens (slim (id, word) rows), LEFT join the
    LM on word — broadcast when the vocab is small, hash join at
    corpus scale — then one groupBy(id) avg. Low scores = fluent
    in-domain text; filter on a threshold downstream."""
    vocab_total = lm.select(
        F.count("*").alias("v"), F.first("total").alias("total"))
    toks = (
        score.select(
            F.col(id_col),
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    joined = toks.join(lm.select("word", "n"), "word", "left").crossJoin(
        F.broadcast(vocab_total))
    neglog = -F.log(
        (F.coalesce(F.col("n"), F.lit(0)) + F.lit(alpha))
        / (F.col("total") + F.lit(alpha) * (F.col("v") + F.lit(1)))
    )
    return (
        joined.groupBy(id_col)
        .agg(F.round(F.avg(neglog), 6).alias("neg_logprob"),
             F.count("*").cast("long").alias("n_tokens"))
    )


def hashed_pseudo_weights(vocab: DataFrame, word_col: str = "word") -> DataFrame:
    """Deterministic stand-in for a trained linear model's weight
    table: weight(word) = ((first 8 md5 hex digits as int) mod 2001
    − 1000) / 1000 ∈ [−1, 1]. In production this DataFrame is simply
    loaded from the trained model's (token, weight) parquet; deriving
    it from the vocabulary keeps the scoring path testable — and
    oracle-checkable, since DuckDB computes the identical expression —
    without shipping a model."""
    h = F.conv(F.substring(F.md5(F.col(word_col)), 1, 8), 16, 10).cast("long")
    return vocab.select(
        F.col(word_col),
        ((h % 2001 - 1000) / 1000.0).alias("weight"),
    )


def classifier_score(
    df: DataFrame, weights: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    word_col: str = "word",
) -> DataFrame:
    """Linear text-classifier scoring — the fastText-style quality
    filter (CCNet / GPT-3 data work) as a Spark plan: tokens explode,
    the (token, weight) table broadcast-joins on (hash-join beyond
    broadcast size), and mean-pooled logits sigmoid into a score.
    Unknown tokens contribute 0 (left join + coalesce).

    100 TB shape: the shuffle carries (doc_id, weight-partials) — the
    per-doc sum/count combine map-side; the weight join is NOT
    broadcast-forced (audit-r7): AQE broadcasts a model-sized table at
    runtime and falls back to a shuffle hash join on the 16-byte-ish
    token key when the vocabulary outgrows the threshold — a forced
    hint would OOM exactly there. Returns (id_col, score, label) with
    score = round(sigmoid(mean logit), 6)."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.split(normalize_text(F.col(text_col)), " "))
            .alias(word_col))
        .filter(F.col(word_col) != "")
    )
    joined = toks.join(
        weights.select(word_col, "weight"), word_col, "left")
    z = F.avg(F.coalesce(F.col("weight"), F.lit(0.0)))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (
        joined.groupBy(id_col)
        .agg(F.round(score, 6).alias("score"))
        .withColumn("label", (F.col("score") >= 0.5).alias("label"))
    )


def chunk_token_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window token chunking — the context-window splitter of
    a training-data pipeline (long documents -> overlapping
    model-sized chunks, stride < window preserves cross-boundary
    context). Reference analogue: the 1-to-N record splitter
    (gobblin-core .../converter/MultiConverter.java iterables), with
    token windows as the split rule.

    Pure narrow plan: whitespace split -> posexplode over the stride
    grid -> slice. No shuffle, no UDF; at 100 TB this runs at scan
    speed and each output chunk row carries (id, chunk_idx, n_tokens,
    md5) — emit the chunk text itself by selecting ``chunk`` before
    the final projection when materializing a training shard.
    """
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("__gs_toks")) - 1, F.lit(0)),
        F.lit(stride),
    )
    chunked = (
        df.select(
            F.col(id_col),
            # trim first: leading/trailing whitespace otherwise yields
            # phantom '' tokens that inflate n_tokens, shift window
            # boundaries and corrupt chunk_hash (audit r8)
            F.split(F.regexp_replace(F.col(text_col),
                                     r"^\s+|\s+$", ""),
                    r"\s+").alias("__gs_toks"))
        .select(
            id_col,
            F.posexplode(starts).alias("chunk_idx", "_start"),
            F.col("__gs_toks"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.slice(F.col("__gs_toks"), F.col("_start") + 1, window).alias("_chunk"),
        )
    )
    return chunked.select(
        id_col,
        "chunk_idx",
        F.size("_chunk").cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "_chunk")).alias("chunk_hash"),
    )


def _bigram_pairs(df: DataFrame, text_col: str, keep: Sequence[str] = ()):
    """(keep..., w1, w2) rows — one per adjacent token pair. NARROW:
    the successor array is the same token array shifted by one and
    zip_with pairs them element-wise, so bigram extraction needs no
    window function and no shuffle. zip_with pads the shorter side
    with null; the null-w2 tail row (and with it every <2-token doc)
    drops in the filter.

    The token array is materialized as its own projection first (same
    reason as ``word_shingles``): the zip_with references it twice,
    and inlining the split(normalize(...)) expression makes codegen
    evaluate the full normalize+tokenize per reference — measured 2x
    the tokenize cost at sf0.1 (0.44 s -> 0.22 s)."""
    t = F.col("__gs_t")
    pairs = F.zip_with(
        t, F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(1))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    return (
        df.select(*keep,
                  F.split(normalize_text(F.col(text_col)), " ").alias("__gs_t"))
        .select(*keep, F.explode(pairs).alias("__gs_bg"))
        .select(*keep, F.col("__gs_bg.w1").alias("w1"), F.col("__gs_bg.w2").alias("w2"))
        .filter(F.col("w2").isNotNull() & (F.col("w1") != ""))
    )


def bigram_lm(train: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bigram language model from a reference corpus — the SQL-exact
    tier above ``unigram_lm`` on the way to CCNet's KenLM (Wenzek et
    al. 2020 §3.3). Returns (bigram counts (w1, w2, n), prefix counts
    (w1, n1), 1-row vocab size (v) over all training tokens). Two
    groupBys over narrow bigram rows; at 100 TB both shuffle slim
    (16-byte-ish word keys, counts combine map-side)."""
    bi = _bigram_pairs(train, text_col)
    lm = bi.groupBy("w1", "w2").agg(F.count("*").alias("n")).persist()
    # prefix counts roll up from the (already slim) bigram table —
    # c(w1) = sum over w2 of c(w1,w2) — instead of a second full pass
    # over the bigram stream; the persist moves to lm, which both pre
    # and the scorer's join consume, so the corpus is tokenized once
    # per count table and never re-zipped
    pre = lm.groupBy("w1").agg(F.sum("n").alias("n1"))
    toks = (
        train.select(
            F.explode(F.split(normalize_text(F.col(text_col)), " "))
            .alias("word"))
        .filter(F.col("word") != "")
    )
    v = toks.agg(F.count_distinct("word").alias("v"))
    return lm, pre, v


def bigram_perplexity_scores(
    score: DataFrame,
    lm: DataFrame,
    pre: DataFrame,
    v: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Mean negative log-probability per BIGRAM with add-alpha
    smoothing over the conditional distribution:

        p(w2 | w1) = (c(w1,w2) + alpha) / (c(w1) + alpha * (V + 1))

    Unseen prefixes coalesce to c(w1)=0 (the model backs off to the
    uniform smoothed distribution). Docs with fewer than two tokens
    have no bigrams and are absent from the output — mirror that in
    any oracle. Plan: narrow bigram explode → two left hash joins on
    word keys (broadcast when the LM fits) → one groupBy(id) avg."""
    bi = _bigram_pairs(score, text_col, keep=[id_col])
    joined = (
        bi.join(lm, ["w1", "w2"], "left")
        .join(pre, "w1", "left")
        .crossJoin(F.broadcast(v))
    )
    neglog = -F.log(
        (F.coalesce(F.col("n"), F.lit(0)) + F.lit(alpha))
        / (F.coalesce(F.col("n1"), F.lit(0))
           + F.lit(alpha) * (F.col("v") + F.lit(1)))
    )
    return (
        joined.groupBy(id_col)
        .agg(F.round(F.avg(neglog), 6).alias("neg_logprob"),
             F.count("*").cast("long").alias("n_bigrams"))
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs via an inverted index —
    the lexical-similarity complement of MinHash (set overlap) and
    embedding cosine (dense vectors): (id_a < id_b, cos ≥ threshold)
    over the df-capped TF-IDF representation.

    Scale shape mirrors ``ngram_jaccard_pairs``: terms with document
    frequency above ``max_doc_freq`` are dropped BEFORE the term
    self-join — a stopword-grade term would explode candidates
    quadratically, and its idf makes it near-worthless anyway. The
    join ships only (term, id, weight); partial products combine
    map-side into per-pair dots. Weights use the rational idf
    ``tf · (N / df_t)`` (engine-exact products, same convention as
    ``tf_idf_top_terms``); norms are over the SAME capped vectors so
    the metric is exactly cosine of the indexed representation.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")
    # tf feeds three consumers (doc count, doc-frequency, the index)
    # and the index w feeds three more (norms + both join sides):
    # persist both, or each consumer re-tokenizes the corpus — the
    # same materialize-once shape as minhash_lsh_pairs' signatures
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")).persist()
    # N as an IN-PLAN broadcast scalar: the old eager .count() ran a
    # full tokenize+aggregate job at call time for a constant that
    # cancels exactly out of the cosine (audit r8) — keeping it in
    # the plan preserves the tf*(N/df) convention and the lazy
    # DataFrame contract at zero extra actions
    nd = tf.agg(F.countDistinct(id_col).cast("double").alias("_nd"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    kept = tf.join(
        dfreq.filter(F.col("df_t") <= max_doc_freq), "token")
    w = kept.crossJoin(F.broadcast(nd)).withColumn(
        "w",
        F.col("tf").cast("double")
        * (F.col("_nd") / F.col("df_t").cast("double")),
    ).select(id_col, "token", "w").persist()
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    a = w.select(F.col(id_col).alias("id_a"), "token", F.col("w").alias("wa"))
    b = w.select(F.col(id_col).alias("id_b"), "token", F.col("w").alias("wb"))
    dots = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("norm").alias("nb"))
    return (
        dots.join(na, "id_a").join(nb, "id_b")
        .withColumn("cosine",
                    F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ----------------------------------------------------------------------
# BPE subword tokenization — the honest pandas-UDF tier: a real
# per-word merge loop no Column expression can express, run
# Arrow-batched (never row-at-a-time Python in the executor protocol).
# ----------------------------------------------------------------------

def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    num_merges: int = 200,
    sample_rows: int = 10_000,
    seed: int = 42,
) -> list[tuple[str, str]]:
    """Classic BPE merge-table learning (Sennrich et al. 2016) on a
    bounded driver-side SAMPLE — like IVF centroid training, the model
    artifact (a few KB of merge pairs) is inherently driver-sized
    while the corpus never leaves the executors. Deterministic: word
    frequencies from the sample, most-frequent pair wins, ties break
    lexicographically. Words are normalized tokens + '</w>' end
    marker."""
    from collections import Counter

    total = df.count()
    frac = min(1.0, (sample_rows * 1.2) / max(total, 1))
    sampled = df.select(normalize_text(F.col(text_col)).alias("_t"))
    if frac < 1.0:
        # df.sample(False, frac, seed) is seeded PER PARTITION INDEX,
        # so the thinned set — and the learned merges — still varied
        # with partition layout (advice-r8). Content-hash thinning is
        # a pure function of (content, seed): keep a row iff its hash
        # bucket falls under the sampling fraction.
        n_buckets = 1 << 20
        keep = int(frac * n_buckets) + 1
        sampled = sampled.filter(
            F.pmod(F.xxhash64(F.col("_t"), F.lit(seed + 7)),
                   F.lit(n_buckets)) < keep)
    texts = [
        r[0] or ""
        for r in sampled
        # limit() alone takes whichever partitions answer first, so
        # the learned merges varied with partition layout (audit r8);
        # hash-ordering the sampled rows makes the kept subset a pure
        # function of the content + seed
        .orderBy(F.xxhash64(F.col("_t"), F.lit(seed)), F.col("_t"))
        .limit(sample_rows).collect()
    ]
    word_freq = Counter(w for t in texts for w in t.split() if w)
    vocab = {w: tuple(w) + ("</w>",) for w in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, freq in word_freq.items():
            sym = vocab[w]
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += freq
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))
        merged = a + b
        for w in vocab:
            sym = vocab[w]
            out = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            vocab[w] = tuple(out)
    return merges


def bpe_segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply a merge table to ONE word (chars + '</w>'), lowest-rank
    merge first — the reference implementation the distributed path
    must match."""
    sym = list(word) + ["</w>"]
    while len(sym) > 1:
        best_i, best_r = -1, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_i < 0:
            break
        sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_tokenize(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Subword-tokenize a text column with a learned merge table.

    The merge loop is genuinely imperative (data-dependent iteration
    over adjacent symbol pairs), so this is the pandas-UDF tier —
    Arrow-batched, with a per-batch word cache (Zipf makes the hit
    rate high: each distinct word segments once per batch). The merge
    table rides the closure as a ~KB broadcast. Output adds
    ``out_col`` (array<string> of subword units)."""
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def seg(texts):
        # (annotation-free: `from __future__ import annotations` turns
        # hints into strings pyspark cannot resolve for lazily-imported
        # pandas; the decorator's returnType carries the schema)
        cache: dict[str, list[str]] = {}

        def run(t):
            out: list[str] = []
            for w in (t or "").split():
                hit = cache.get(w)
                if hit is None:
                    hit = cache[w] = bpe_segment_word(w, ranks)
                out.extend(hit)
            return out

        return texts.map(run)

    return df.withColumn(out_col, seg(normalize_text(F.col(text_col))))


def compression_ratio(
    df: DataFrame,
    text_col: str,
    out_prefix: str = "zlib",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the repetitiveness signal
    of the Gopher/Dolma filter family (templated/boilerplate text
    compresses far below prose; ratios near 1 flag binary-ish noise).
    Adds ``{prefix}_raw_len``, ``{prefix}_comp_len`` (exact ints —
    zlib at a fixed level is deterministic) and ``{prefix}_ratio_ppm``
    (compressed/raw, integer ppm). Null text → nulls.

    Honest pandas-UDF tier: DEFLATE is imperative; batches are Arrow,
    the codec runs per row inside the batch. Compose with
    gopher_quality/repetition for the full filter set."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<raw_len: long, comp_len: long>")
    def comp(texts):
        import zlib

        import pandas as pd

        def one(t):
            if t is None:
                return {"raw_len": None, "comp_len": None}
            b = t.encode("utf-8")
            return {"raw_len": len(b),
                    "comp_len": len(zlib.compress(b, level))}

        return pd.DataFrame([one(t) for t in texts])

    out = df.withColumn("__gs_z", comp(F.col(text_col)))
    return (
        out.withColumn(f"{out_prefix}_raw_len", F.col("__gs_z.raw_len"))
        .withColumn(f"{out_prefix}_comp_len", F.col("__gs_z.comp_len"))
        .withColumn(
            f"{out_prefix}_ratio_ppm",
            F.when(
                F.col("__gs_z.raw_len") > 0,
                F.floor(F.col("__gs_z.comp_len") * F.lit(1000000.0)
                        / F.col("__gs_z.raw_len")).cast("long"),
            ).otherwise(
                # empty (0-byte) text carries no repetitiveness signal:
                # ratio 1.0 exactly, so threshold filters keep the row
                # instead of dropping it through a null (audit r8);
                # NULL text still propagates null via the struct
                F.when(F.col("__gs_z.raw_len") == 0,
                       F.lit(1000000).cast("long"))),
        )
        .drop("__gs_z")
    )


def hashed_embedding(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 16,
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) text
    embedding: each token lands in bucket md5_60(token) % dim with
    sign ±1 from the next hash bit; the document vector is the signed
    bucket-count histogram. The deterministic, engine-portable
    featurizer that bridges the text family into the similarity family
    (cosine/k-means/IVF run unchanged on the output) when no model
    embedding exists — and the classic cheap baseline worth having
    beside it when one does.

    Shape: token explode -> (id, bucket) groupBy -> array rebuild;
    one keyed shuffle carrying (id, bucket, partial count). Every
    arithmetic step is exact integers, so an external engine
    reproduces vectors element-for-element. Returns (id_col,
    hvec array<long>).
    """
    from gobblin_spark.functions.dedup import md5_60

    toks = (
        df.select(id_col, text_col)
        .select(id_col, F.explode(
            F.split(normalize_text(F.col(text_col)), " ")).alias("_t"))
        .filter(F.col("_t") != "")
    )
    if dim & (dim - 1):
        raise ValueError("dim must be a power of two (bit-exact bucketing)")
    h = md5_60(F.col("_t"))
    # bitwise, NOT h/dim: double division of a 60-bit hash rounds the
    # mantissa and corrupts the sign bit
    shift = dim.bit_length() - 1
    sign = F.lit(1) - F.lit(2) * F.shiftright(h, shift).bitwiseAND(F.lit(1))
    buckets = toks.select(
        F.col(id_col),
        (h % dim).cast("int").alias("_b"),
        sign.cast("long").alias("_s"),
    ).groupBy(id_col, "_b").agg(F.sum("_s").alias("_v"))
    per_doc = buckets.groupBy(id_col).agg(
        F.map_from_arrays(
            F.collect_list("_b"), F.collect_list("_v")).alias("_m"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("int")), F.lit(0).cast("long")),
    )
    return per_doc.select(F.col(id_col), vec.alias("hvec"))
