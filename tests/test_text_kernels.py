"""The rewritten text kernels return exactly what their match-counting
regex forms return. Each kernel — character counts that delete class runs
with ``regexp_replace`` and subtract lengths, a single-pass normalizer —
is compared with the ``regexp_count``-style expression it replaced (kept
here only as the reference, and still the form the DuckDB oracles run)
over hypothesis-generated strings that stress the edges: every Java
``\\s`` character, NUL, runs of dots, the ellipsis, case-folding
oddities and supplementary code points. ``_count_chars`` escapes the
class metacharacters itself; a Python ``re`` check pins that.

Hypothesis only draws the corpus; all of it is checked in one
``select``, so each property costs one Spark job."""

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from gobblin_spark.functions import text

# characters a naive rewrite gets wrong: all of Java's ASCII \s (with
# \x0b and \f), NUL, the Gopher symbols, the Kelvin sign and dotted
# capital I (Unicode case mappings onto ASCII letters), sharp s, two
# supplementary code points and the regex class metacharacters
_EDGE_CHARS = (list(" \t\n\x0b\f\r\x00#.…!?,-_]\\^[&")
               + ["\u212a", "\u0130", "\u00df", "\U0001f600", "\U00010400"])

_chars = st.one_of(
    st.sampled_from(_EDGE_CHARS),
    st.characters(min_codepoint=0x20, max_codepoint=0x7e),
    st.characters(),
    st.characters(min_codepoint=0x10000),
)
_pieces = st.one_of(
    st.text(_chars, max_size=12),
    st.integers(1, 7).map(".".__mul__),
)
_texts = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_pieces, max_size=8).map("".join),
)


def _corpus(n: int = 600) -> list:
    drawn = []

    @settings(max_examples=n, database=None, deadline=None)
    @given(_texts)
    def draw(s):
        drawn.append(s)

    draw()
    return drawn + [None, "", " ", "...", "....", "......", "…#...",
                    "\x0b\f\x00", "\u212a\u0130\u00df"]


# -- the regex forms the kernels replaced ------------------------------

def _ratio(count, col):
    n = F.length(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        count.cast("double") / n.cast("double"))


def _alpha_ratio_regex(col):
    return _ratio(F.regexp_count(col, F.lit(r"[A-Za-z]")), col)


def _punct_ratio_regex(col):
    return _ratio(F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]")), col)


def _normalize_regex(col):
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", " "), r"\s+", " "))


def _gopher_regex(col):
    col = F.coalesce(col, F.lit(""))
    nonspace = F.length(F.regexp_replace(F.trim(col), r"\s+", ""))
    symbols = (F.regexp_count(col, F.lit(r"#")) +
               F.regexp_count(col, F.lit(r"\.\.\.")) +
               F.regexp_count(col, F.lit("…")))
    wc = text.gopher_quality_metrics(col)["word_count"]

    def per_word(c):
        return F.when(wc == 0, F.lit(0.0)).otherwise(
            c.cast("double") / wc.cast("double"))

    return per_word(nonspace), per_word(symbols)


def test_kernels_match_their_regex_forms(spark):
    corpus = _corpus()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)],
                               "i int, t string")
    t = F.col("t")
    gopher = text.gopher_quality_metrics(t)
    mean_len_ref, sym_ratio_ref = _gopher_regex(t)
    pairs = {
        "alpha_ratio": (text.alpha_ratio(t), _alpha_ratio_regex(t)),
        "punct_ratio": (text.punct_ratio(t), _punct_ratio_regex(t)),
        "normalize_text": (text.normalize_text(t), _normalize_regex(t)),
        "fingerprint": (text.fingerprint(t), F.md5(_normalize_regex(t))),
        "gopher_mean_word_len": (gopher["mean_word_len"], mean_len_ref),
        "gopher_symbol_word_ratio": (gopher["symbol_word_ratio"],
                                     sym_ratio_ref),
    }
    same = F.array(*[new.eqNullSafe(ref) for new, ref in pairs.values()])
    bad = (df.select("i", same.alias("same"))
             .filter(~F.array_min("same")).collect())
    failures = [(corpus[r.i], [name for name, ok in zip(pairs, r.same)
                               if not ok]) for r in bad]
    assert not failures, failures[:10]


# literal character sets whose metacharacters a bare ``[...]`` would
# misread: a closing bracket, a backslash escape, a leading negation,
# ranges, a nested class and an intersection
_CLASS_SETS = ["]", "\\", "^", "-", "a-z", "^a", "]\\^-", "z-a", "[x]",
               "&&a", "#…", " \t\n\x0b\f\r"]


def test_count_chars_escapes_class_metacharacters(spark):
    corpus = _corpus(300) + ["a-z]\\^[&", "^^--]]\\\\", "[x]&&a"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)],
                               "i int, t string")
    got = df.select("i", *[text._count_chars(F.col("t"), chars)
                          .alias(f"c{k}")
                          for k, chars in enumerate(_CLASS_SETS)]).collect()
    failures = []
    for r in got:
        s = corpus[r.i]
        for k, chars in enumerate(_CLASS_SETS):
            want = (None if s is None else
                    len(re.findall(f"[{re.escape(chars)}]", s)))
            if r[f"c{k}"] != want:
                failures.append((s, chars, r[f"c{k}"], want))
    assert not failures, failures[:10]
