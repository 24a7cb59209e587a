"""Gopher repetition signals: the per-document kernel against
hand-computed values in Spark's string semantics, exact parity of the
Spark operator vs a pure-Python recomputation of the same definitions,
plus filter behavior."""

from __future__ import annotations

import re

import pytest

from kgspark.kernels.doc_quality import repetition_signals_doc, round6
from kgspark.ops import textstats


DOCS = [
    # clean prose — long enough that no single n-gram dominates (the
    # Gopher caps are fractions of total chars and assume real documents)
    (1, "the quick brown fox jumps over the lazy dog near the old river bank "
        "while seven curious travelers watched from a wooden bridge and "
        "discussed the morning weather with surprising enthusiasm before "
        "walking toward the distant village market to trade stories about "
        "harvest seasons and the gentle art of keeping bees in clay pots"),
    # duplicate lines + paragraphs
    (2, "buy now\nbuy now\nbuy now\n\nlimited offer\n\nlimited offer"),
    # one dominant 2-gram
    (3, "click here click here click here click here please"),
    # empty
    (4, ""),
    # single word (below every n-gram size)
    (5, "hello"),
]


def _py_signals(text: str) -> dict[str, float]:
    def dup(parts):
        parts = [p.strip() for p in parts if p.strip()]
        if not parts:
            return 0.0, 0.0
        counts: dict[str, int] = {}
        for p in parts:
            counts[p] = counts.get(p, 0) + 1
        total = sum(counts.values())
        dup_n = sum(c - 1 for c in counts.values())
        total_ch = sum(c * len(p) for p, c in counts.items())
        dup_ch = sum((c - 1) * len(p) for p, c in counts.items())
        return (
            round(dup_n / max(total, 1), 6),
            round(dup_ch / max(total_ch, 1), 6),
        )

    line_f, line_cf = dup(text.split("\n"))
    para_f, _ = dup(re.split(r"\n\s*\n", text))
    out = {
        "dup_line_frac": line_f,
        "dup_line_char_frac": line_cf,
        "dup_para_frac": para_f,
    }
    words = [w for w in re.split(r"\s+", text.lower()) if w]
    n_chars = max(len(text), 1)
    for n in (2, 3, 4):
        grams = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
        if not grams:
            out[f"top{n}_char_frac"] = 0.0
            continue
        counts: dict[str, int] = {}
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
        # argmax by (count, len, lexical) — mirrors the struct-max tie-break
        top = max(counts, key=lambda g: (counts[g], len(g), g))
        out[f"top{n}_char_frac"] = round(counts[top] * len(top) / n_chars, 6)
    return out


ZEROS = (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)


def test_kernel_splits_on_java_whitespace_only():
    # \x0b (vertical tab) is Java \s: it splits words and can blank a
    # paragraph-separating line
    assert repetition_signals_doc("a\x0bb c")[0] == 3
    assert repetition_signals_doc("p1\n\x0b\np1")[3] == 0.5
    # U+00A0 and U+3000 are Python whitespace but not Java \s
    assert repetition_signals_doc("a\u00a0b c\u3000d")[0] == 2
    assert repetition_signals_doc("p1\n\u3000\np1")[3] == 0.0


def test_kernel_trims_only_spaces():
    # trim strips U+0020 only: the tab-indented (or CR-terminated) copy
    # is a different line, the space-padded copy is the same line
    assert repetition_signals_doc("buy now\n\tbuy now")[1:3] == (0.0, 0.0)
    assert repetition_signals_doc("buy now\r\nbuy now")[1:3] == (0.0, 0.0)
    assert repetition_signals_doc("buy now\n  buy now ")[1:3] == (0.5, 0.5)


def test_kernel_rounds_half_up_like_spark():
    # 127 distinct lines plus one repeat: 1/128 = 0.0078125 exactly;
    # Spark round(x, 6) gives 0.007813, Python round() gives 0.007812
    text = "\n".join([f"l{j}" for j in range(127)] + ["l0"])
    assert round(1 / 128, 6) == 0.007812
    assert round6(1 / 128) == 0.007813
    assert repetition_signals_doc(text)[1] == 0.007813


def test_kernel_empty_and_null_text():
    assert repetition_signals_doc(None) == ZEROS
    assert repetition_signals_doc("") == ZEROS
    assert repetition_signals_doc(" \n\n ") == ZEROS
    assert repetition_signals_doc(None, (2,)) == (0, 0.0, 0.0, 0.0, 0.0)


def test_kernel_ngram_argmax_by_count_then_length():
    # count wins over covered chars: "a b" x3 (3 chars) beats
    # "ccccc ddddd" x2 (11 chars) -> 3*3 / 35
    t = "a b a b a b ccccc ddddd ccccc ddddd"
    assert repetition_signals_doc(t, (2,))[4] == round6(9 / 35) == 0.257143
    # equal counts: the longer gram wins -> "cc dd" x2 = 10 / 19 chars
    t = "a b a b cc dd cc dd"
    assert repetition_signals_doc(t, (2,))[4] == 0.526316
    # equal count and length: the lexical pick covers the same chars
    assert repetition_signals_doc("a b a b c d c d", (2,))[4] == round6(6 / 15)


def test_kernel_counts_code_points_and_lowercases():
    # lengths in code points; n-grams over lowercased words
    t = "Σίσυφος ΣΊΣΥΦΟΣ"
    n_chars = len(t)
    assert repetition_signals_doc(t, (1,))[4] == round6(2 * 7 / n_chars)


def test_repetition_signals_match_pure_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_signals(df, "doc_id", "text").collect()
    }
    assert set(got) == {d[0] for d in DOCS}
    for doc_id, text in DOCS:
        want = _py_signals(text)
        for k, v in want.items():
            assert got[doc_id][k] == pytest.approx(v, abs=1e-9), (doc_id, k)


def test_pipeline_quality_filter_drops_spam_pages(spark):
    """cfg.quality_filter_enabled: a repeated-line spam page contributes
    no triples; clean pages are untouched (output == unfiltered minus
    the spam url)."""
    import datetime as dt

    from kgspark import datagen
    from kgspark.config import KgConfig
    from kgspark.pipeline.ingest import PAGES_SCHEMA
    from kgspark.pipeline.runner import build_triples

    clean = datagen.generate_rows(12, seed=3)
    spam_text = "buy cheap tokens now\n" * 40
    spam_html = "<html><body>" + "<p>buy cheap tokens now</p>" * 40 + "</body></html>"
    spam = ("https://spam.example/p", dt.datetime(2021, 1, 1), spam_html.encode(),
            spam_text, "en")
    pages = spark.createDataFrame(clean + [spam], PAGES_SCHEMA)

    plain = build_triples(pages, KgConfig(), from_html=True)
    filt = build_triples(pages, KgConfig(quality_filter_enabled=True), from_html=True)

    plain_rows = {tuple(r) for r in plain.collect()}
    filt_rows = {tuple(r) for r in filt.collect()}
    assert not any(r[0] == "https://spam.example/p" for r in filt_rows)
    assert filt_rows == {r for r in plain_rows if r[0] != "https://spam.example/p"}
    assert filt_rows, "clean datagen pages must survive the caps"


def test_gopher_keep_filters_repetitive_docs(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    sig = textstats.repetition_signals(df, "doc_id", "text")
    kept = {
        r["doc_id"]
        for r in sig.filter(textstats.gopher_keep()).collect()
    }
    assert 1 in kept, "clean prose passes"
    assert 2 not in kept, "duplicate-line spam fails"
    assert 3 not in kept, "dominant-ngram spam fails"


def test_pipeline_page_dedup_keeps_min_url_per_content(spark):
    """cfg.page_dedup_enabled: byte-identical duplicate pages contribute
    triples only under their lexicographically-smallest url; unique
    pages are untouched (output == unfiltered minus the dup urls)."""
    from kgspark import datagen
    from kgspark.config import KgConfig
    from kgspark.pipeline.ingest import PAGES_SCHEMA
    from kgspark.pipeline.runner import build_triples

    clean = datagen.generate_rows(10, seed=5)
    # two extra urls carrying the exact html bytes of the first page;
    # min url across the trio is the clone at https://aaa...
    base = clean[0]
    dup_urls = ["https://zzz.example/copy", "https://aaa.example/copy"]
    dups = [(u, *base[1:]) for u in dup_urls]
    pages = spark.createDataFrame(clean + dups, PAGES_SCHEMA)

    plain = build_triples(pages, KgConfig(), from_html=True)
    dd = build_triples(pages, KgConfig(page_dedup_enabled=True), from_html=True)

    plain_rows = {tuple(r) for r in plain.collect()}
    dd_rows = {tuple(r) for r in dd.collect()}
    winner = min([base[0]] + dup_urls)
    losers = {u for u in [base[0]] + dup_urls if u != winner}
    assert not any(r[0] in losers for r in dd_rows)
    assert dd_rows == {r for r in plain_rows if r[0] not in losers}
    assert any(r[0] == winner for r in dd_rows)


def test_pipeline_quality_filter_keeps_short_and_null_text_pages(spark):
    """The Gopher caps are length-gated (min_words=50) in the pipeline:
    a short clean page whose single 2-gram trivially exceeds the 20%
    char cap must survive, and a page with NULL text (extraction comes
    later, from html) must pass through rather than failing both
    cjk-ratio branches."""
    import datetime as dt

    from kgspark import datagen
    from kgspark.config import KgConfig
    from kgspark.pipeline.ingest import PAGES_SCHEMA
    from kgspark.pipeline.runner import build_triples

    clean = datagen.generate_rows(8, seed=9)
    short_html = "<html><body><p>Acme Corp announced a merger today.</p></body></html>"
    short = ("https://short.example/p", dt.datetime(2021, 1, 1),
             short_html.encode(), "Acme Corp announced a merger today.", "en")
    base = clean[0]
    nulltext = ("https://nulltext.example/p", dt.datetime(2021, 1, 2),
                base[2], None, "en")
    pages = spark.createDataFrame(clean + [short, nulltext], PAGES_SCHEMA)

    plain = {tuple(r) for r in build_triples(
        pages, KgConfig(), from_html=True).collect()}
    filt = {tuple(r) for r in build_triples(
        pages, KgConfig(quality_filter_enabled=True), from_html=True).collect()}
    assert filt == plain  # nothing here is spam; the gate must drop nothing
    assert any(r[0] == "https://nulltext.example/p" for r in filt)


def test_page_dedup_passes_null_content_pages_through(spark):
    """md5(NULL) is NULL: without the url coalesce every null-content
    page would collapse into one null-hash group and all but the min-url
    row be silently dropped.  Null content proves nothing about
    duplication — every such page must survive the dedup stage."""
    import datetime as dt

    from kgspark import datagen
    from kgspark.pipeline.ingest import PAGES_SCHEMA
    from kgspark.pipeline.runner import dedup_pages

    clean = datagen.generate_rows(6, seed=11)
    base = clean[0]
    nulls = [
        ("https://null-a.example/p", dt.datetime(2021, 1, 1), None, None, "en"),
        ("https://null-b.example/p", dt.datetime(2021, 1, 2), None, None, "en"),
        ("https://null-c.example/p", dt.datetime(2021, 1, 3), None, None, "en"),
    ]
    dup = ("https://zzz.example/copy", *base[1:])
    pages = spark.createDataFrame(clean + nulls + [dup], PAGES_SCHEMA)

    survivors = {r["url"] for r in dedup_pages(pages, from_html=True).collect()}
    # every null-content page survives; the byte-identical dup collapses
    assert {u for u, *_ in nulls} <= survivors
    assert "https://zzz.example/copy" not in survivors
    assert len(survivors) == len(clean) + len(nulls)

    # text-keyed path (from_html=False): null text passes through too
    survivors_t = {r["url"] for r in dedup_pages(pages, from_html=False).collect()}
    assert {u for u, *_ in nulls} <= survivors_t
