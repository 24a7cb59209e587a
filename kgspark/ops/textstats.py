"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting, Gopher repetition signals.  All are JVM column
expressions (whole-stage codegen; SQL-oracle-replayable) except the
repetition signals, whose per-document counters run as one Arrow-batched
UDF over ``kernels.doc_quality``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from kgspark.kernels.doc_quality import repetition_signals_doc

# tiny per-language function-word lexicons for the stopword-vote heuristic
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "an", "of", "and", "is", "to", "in", "that", "it"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "que", "dans"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "que", "en"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
}
LANG_ORDER = ["en", "fr", "es", "de"]  # tie-break priority

EN_STOPWORDS = LANG_LEXICONS["en"]


def words_lower(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")


def cjk_char_count(col: Column) -> Column:
    """Count of CJK chars (reference CJK range 一-鿿,
    /root/reference/src/knowledge_graph/text_utils.py:22)."""
    return F.length(col) - F.length(F.regexp_replace(col, r"[一-鿿]", ""))


def langid_expr(col: Column, cjk_ratio_threshold: float = 0.05) -> Column:
    """Heuristic language-ID: CJK char ratio → 'zh'; else argmax of
    function-word hits over per-language lexicons (ties → LANG_ORDER)."""
    ws = words_lower(col)
    hits = {
        lang: F.size(F.array_intersect(F.array_distinct(ws), F.array(*[F.lit(w) for w in lex])))
        for lang, lex in LANG_LEXICONS.items()
    }
    best = F.lit(LANG_ORDER[-1])
    best_hits = hits[LANG_ORDER[-1]]
    for lang in reversed(LANG_ORDER[:-1]):
        cond = hits[lang] >= best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, hits[lang]).otherwise(best_hits)
    cjk_ratio = cjk_char_count(col) / F.greatest(F.length(col), F.lit(1))
    return F.when(cjk_ratio > cjk_ratio_threshold, F.lit("zh")).otherwise(best)


def ws_token_count(col: Column) -> Column:
    """Whitespace tokenization count (str.split() semantics)."""
    return F.size(F.filter(F.split(col, r"\s+"), lambda w: w != ""))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish pre-tokenizer count: letter runs, digit runs, single
    punctuation marks (GPT-2 pre-tokenizer shape, simplified)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Per-doc quality features + composite score in [0,1]:

      n_chars, n_words, avg_word_len, stopword_ratio, punct_ratio,
      uniq_word_ratio, score

    Score: docs with mid-length words, some stopwords, low punctuation and
    diverse vocabulary rank higher (C4/Gopher-style length+repetition
    heuristics, deterministic and SQL-replayable).
    """
    ws = words_lower(F.col(text_col))
    n_words = F.size(ws)
    n_chars = F.length(F.col(text_col))
    avg_wl = F.round(
        (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1)), 4
    )
    stop_ratio = F.round(
        F.size(F.filter(ws, lambda w: w.isin(EN_STOPWORDS)))
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 4)
    uniq_ratio = F.round(
        F.size(F.array_distinct(ws)) / F.greatest(n_words, F.lit(1)), 4
    )
    # round at 6dp: the inputs are 4dp values scaled by 0.25, so the result
    # is an exact 6-decimal number — no cross-engine rounding-boundary risk
    score = F.round(
        F.lit(0.25) * F.when((n_words >= 10) & (n_words <= 100000), 1.0).otherwise(0.0)
        + F.lit(0.25) * F.when((avg_wl >= 3) & (avg_wl <= 10), 1.0).otherwise(0.0)
        + F.lit(0.25) * F.when(stop_ratio >= 0.05, 1.0).otherwise(0.0)
        + F.lit(0.25) * uniq_ratio,
        6,
    )
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_words.alias("q_words"),
        avg_wl.alias("q_avg_word_len"),
        stop_ratio.alias("q_stopword_ratio"),
        punct_ratio.alias("q_punct_ratio"),
        uniq_ratio.alias("q_uniq_ratio"),
        score.alias("q_score"),
    )


# Gopher-style repetition thresholds (Rae et al. 2021, table A1 shape):
# a doc is kept when every signal is at or below its cap.
GOPHER_CAPS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_frac": 0.30,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
}


def repetition_signals(df: DataFrame, id_col: str, text_col: str,
                       ngram_ns: tuple[int, ...] = (2, 3, 4)) -> DataFrame:
    """Gopher/RefinedWeb repetition quality signals, one row per input row:

      n_words             whitespace word count
      dup_line_frac       repeated line occurrences / total lines
      dup_line_char_frac  chars in repeat occurrences (beyond each
                          line's first) / total line chars
      dup_para_frac       same as dup_line_frac over blank-line-split
                          paragraphs
      top{n}_char_frac    chars covered by the single most frequent
                          word n-gram / total doc chars, for each n

    Repetition-heavy pages (boilerplate, templated spam, scraper loops)
    are the classic pre-training poison these caps filter (see
    GOPHER_CAPS / ``gopher_keep``).

    Scale shape: one Arrow-batched UDF running the per-document kernel
    ``kernels.doc_quality.repetition_signals_doc`` — the text crosses the
    JVM/Python boundary once, with no exchange.  Null and empty texts
    yield zeros.
    """
    names = ["n_words", "dup_line_frac", "dup_line_char_frac",
             "dup_para_frac", *[f"top{n}_char_frac" for n in ngram_ns]]
    schema = T.StructType(
        [T.StructField("n_words", T.IntegerType())]
        + [T.StructField(c, T.DoubleType()) for c in names[1:]])

    @F.pandas_udf(schema)
    def signals(text: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([repetition_signals_doc(t, ngram_ns) for t in text],
                            columns=names)

    return df.select(
        F.col(id_col), signals(F.col(text_col)).alias("_sig")
    ).select(id_col, *[F.col("_sig")[c].alias(c) for c in names])


def gopher_keep(caps: dict[str, float] | None = None,
                min_words: int | None = None) -> Column:
    """Boolean keep-column over ``repetition_signals`` output: every
    signal at or below its cap (defaults: GOPHER_CAPS).

    ``min_words`` exempts documents below that word count from the
    caps entirely: the char-fraction signals assume real-document
    lengths (on a clean 6-word page a single 2-gram is trivially >20%
    of all chars), and Gopher itself applies its repetition caps only
    downstream of a 50-word minimum-length rule — a KG pipeline keeps
    short pages rather than discarding them, so the exemption replaces
    the removal."""
    caps = caps or GOPHER_CAPS
    cond = F.lit(True)
    for name, cap in caps.items():
        cond = cond & (F.col(name) <= F.lit(cap))
    if min_words is not None:
        cond = (F.col("n_words") < F.lit(min_words)) | cond
    return cond


def fingerprint_expr(col: Column, n: int = 8) -> Column:
    """Winnowing-style document fingerprint: minimum md5 over word
    n-gram shingles (md5 → portable across engines).  Equal fingerprints
    imply a shared minimal shingle — cheap near-dup prefilter."""
    words = F.filter(F.split(col, r"\s+"), lambda w: w != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.array_min(F.transform(grams, F.md5))
