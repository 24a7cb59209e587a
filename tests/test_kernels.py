"""Unit tests for the deterministic kernels (SURVEY §5.2 item 1)."""

from __future__ import annotations

import random

from kgspark.datagen import generate_rows, make_doc
from kgspark.kernels.html_extract import extract_text, render_page
from kgspark.kernels.textproc import (
    chunk_text,
    count_words,
    normalize_text,
    split_sentences,
)
from kgspark.kernels.triple_extract import extract_triples


class TestSentenceSplit:
    def test_basic_enders(self):
        assert split_sentences("你好。世界！再见？done") == ["你好。", "世界！", "再见？", "done"]
        # ender+quote is skipped by rule 1 but split after the quote by rule 4
        assert split_sentences('said。"next') == ['said。"', "next"]

    def test_ellipsis(self):
        assert split_sentences("wait... then go。x") == ["wait...", "then go。", "x"]
        # rule 3 re-splits the six-dot run after rule 2 (reference behavior)
        assert split_sentences("wait......then") == ["wait...", "...", "then"]

    def test_quote_terminated(self):
        # rule 4: ender+quote followed by non-punctuation splits
        assert split_sentences('he said "stop!" and left。') == ['he said "stop!"', 'and left。']


class TestNormalizeText:
    """O-4, reference text_utils.py:89-117; expected values worked by hand."""

    def test_line_breaks_and_whitespace_collapse(self):
        # CR/LF runs fold to one newline, which the \s+ pass makes a space
        assert normalize_text("a\r\n\r\nb\rc\nd") == "a b c d"
        assert normalize_text("  a \t\t b\u3000 c  ") == "a b c"

    def test_zero_width_strip(self):
        assert normalize_text("a\u200bb\ufeffc") == "abc"
        # stripped after the collapse, so the spaces around it both stay
        assert normalize_text("a \u200b b") == "a  b"

    def test_ellipsis_runs(self):
        assert normalize_text("wait....go") == "wait...go"
        assert normalize_text("so......") == "so..."

    def test_space_after_sentence_enders(self):
        assert normalize_text("好。他") == "好。 他"
        assert normalize_text("hi!there") == "hi! there"
        assert normalize_text("why?now") == "why? now"
        # an existing space is kept single; a following quote gets none
        assert normalize_text("ok?   then") == "ok? then"
        assert normalize_text('done。"x') == 'done。"x'

    def test_empty(self):
        assert normalize_text("") == ""
        assert normalize_text(" \r\n\t ") == ""


class TestCountWords:
    def test_english(self):
        assert count_words("one two  three") == 3

    def test_cjk_double_count(self):
        # a whitespace token containing CJK counts once as a token AND once
        # per CJK char (reference text_utils.py:18-24 quirk)
        assert count_words("香港") == 3  # 1 token + 2 chars
        assert count_words("a 香港 b") == 5  # 3 tokens + 2 chars


class TestChunker:
    def test_empty(self):
        assert chunk_text("") == []
        assert chunk_text("   \n\n  ") == []

    def test_single_short(self):
        assert chunk_text("short sentence。", max_length=100) == ["short sentence。"]

    def test_two_sentence_overlap(self):
        text = "one two three four。 five six seven eight。 nine ten eleven twelve。 a b c d。"
        chunks = chunk_text(text, max_length=8, overlap=5)
        # every chunk after the first starts with the previous chunk's
        # last (≤2) sentences
        assert len(chunks) >= 2
        for prev, nxt in zip(chunks, chunks[1:]):
            prev_sents = split_sentences(prev)
            carry = prev_sents[-2:] if len(prev_sents) >= 2 else prev_sents
            assert nxt.startswith(" ".join(carry))

    def test_no_overlap_when_zero(self):
        text = "one two three four。 five six seven eight。 nine ten eleven twelve。"
        chunks = chunk_text(text, max_length=8, overlap=0)
        joined = " ".join(chunks)
        assert joined.count("five six") == 1

    def test_oversize_standalone(self):
        big = " ".join(["w"] * 50) + "。"
        text = f"small one。\n\n{big}\n\nsmall two。"
        chunks = chunk_text(text, max_length=10, overlap=5)
        assert big in chunks  # emitted standalone, unsplit

    def test_paragraph_respected(self):
        text = "para one sentence。\n\npara two sentence。"
        chunks = chunk_text(text, max_length=100, overlap=20)
        # both fit in one chunk; paragraphs joined with ' '
        assert chunks == ["para one sentence。 para two sentence。"]


class TestHtmlExtract:
    def test_roundtrip_fixture_docs(self):
        rng = random.Random(3)
        for lang in ("en", "zh", "mixed"):
            for _ in range(20):
                text = make_doc(rng, lang)
                assert extract_text(render_page(text, title="t", lang=lang)) == text

    def test_roundtrip_generated_rows(self):
        for url, ts, html, text, lang in generate_rows(50, seed=9):
            assert extract_text(html) == text, url

    def test_boilerplate_stripped(self):
        html = render_page("only the content。", title="TITLE HERE")
        out = extract_text(html)
        assert out == "only the content。"
        assert "home" not in out and "banner" not in out and "TITLE" not in out

    def test_cleanup_rules(self):
        raw = b"<html><body><p>keep this</p><p>Page 3</p><p>---</p></body></html>"
        assert extract_text(raw) == "keep this"

    def test_null_and_junk(self):
        assert extract_text(None) == ""
        assert extract_text(b"\xff\xfe junk <p>x</p>") != ""


class TestTripleExtract:
    def test_en_svo(self):
        ts = extract_triples("the steam engine powers the factory system。")
        assert {"subject": "steam engine", "predicate": "powers",
                "object": "factory system"} in ts

    def test_multiword_relation(self):
        ts = extract_triples("AI is part of modern technology。")
        assert ts[0]["predicate"] == "is part of"
        assert ts[0]["subject"] == "AI"

    def test_zh(self):
        ts = extract_triples("香港政府提出新政策。")
        assert {"subject": "香港政府", "predicate": "提出", "object": "新政策"} in ts

    def test_no_match(self):
        assert extract_triples("nothing happening here at all。") == []
        assert extract_triples("") == []

    def test_deterministic(self):
        doc = make_doc(random.Random(5), "mixed")
        for chunk in chunk_text(doc):
            assert extract_triples(chunk) == extract_triples(chunk)

    def test_predicates_within_limit(self):
        rng = random.Random(6)
        for _ in range(30):
            for chunk in chunk_text(make_doc(rng, "mixed")):
                for t in extract_triples(chunk):
                    assert len(t["predicate"].split()) <= 3


class TestT2S:
    """S-6: Traditional-script input must extract the same triples as its
    Simplified twin once t2s_enabled is on (reference
    data_processor.py:47-62 OpenCC pass, inlined for the lexicon scope)."""

    def test_t2s_convert_chars(self):
        from kgspark.kernels.textproc import t2s_convert
        assert t2s_convert("推動經濟發展") == "推动经济发展"
        assert t2s_convert("香港屬於中國。") == "香港属于中国。"
        assert t2s_convert("") == ""
        assert t2s_convert("already simplified 推动") == "already simplified 推动"

    def test_t2s_extended_beyond_lexicon(self):
        """Round-3 production table (kernels/t2s_table.py): characters far
        outside the engine lexicon + fixture vocabulary convert too."""
        from kgspark.kernels.textproc import t2s_convert
        assert t2s_convert("銀行提出購買計劃。") == "银行提出购买计划。"
        assert t2s_convert("馬匹與魚類") == "马匹与鱼类"
        assert t2s_convert("鐵路橋樑連接兩岸") == "铁路桥梁连接两岸"

    def test_t2s_phrase_disambiguation(self):
        """Round-4 phrase layer (t2s_table.T2S_PHRASES, VERDICT r03 item 4):
        one-to-many characters (乾/著/藉/徵/瞭) convert by context, matching
        OpenCC's TSPhrases behavior the reference gets from
        data_processor.py:47-62."""
        from kgspark.kernels.textproc import t2s_convert
        # 乾: qián readings keep 乾, gān readings become 干
        assert t2s_convert("乾隆年間的乾燥氣候") == "乾隆年间的干燥气候"
        assert t2s_convert("乾坤與乾淨") == "乾坤与干净"
        # 著: aspect particle → 着, 著名/著作 keep 著
        assert t2s_convert("意味著著名的著作") == "意味着著名的著作"
        assert t2s_convert("隨著時間推移") == "随着时间推移"
        assert t2s_convert("著手處理著陸問題") == "着手处理着陆问题"
        # 藉: jiè → 借, 慰藉/狼藉 keep 藉
        assert t2s_convert("藉口是憑藉慰藉") == "借口是凭借慰藉"
        # 徵: musical note keeps 徵, zhēng → 征
        assert t2s_convert("宮商角徵羽是特徵") == "宫商角徵羽是特征"
        # 瞭: liào keeps 瞭, le/liǎo → 了
        assert t2s_convert("瞭望塔上瞭解情況") == "瞭望塔上了解情况"

    def test_t2s_phrase_table_integrity(self):
        """Round-5 broadened table (VERDICT r4 item 5): every entry's
        value must be the key with (a) normal single-character
        simplification, (b) one of the sanctioned context overrides
        (著→着, 藉→借, 覆→复, 甚→什), or (c) a protected identity —
        position by position.  Catches any typo'd value wholesale.  Also
        asserts every key carries a trigger character (the kernel's
        7-char fast-path gate) and that keys/values pair 1:1 in length."""
        from kgspark.kernels.t2s_table import T2S_PHRASES
        from kgspark.kernels.textproc import _T2S_TRIGGERS, T2S_MAP

        overrides = {("著", "着"), ("藉", "借"), ("覆", "复"), ("甚", "什")}
        for k, v in T2S_PHRASES.items():
            assert len(k) == len(v), k
            assert any(c in k for c in _T2S_TRIGGERS), k
            for kc, vc in zip(k, v):
                ok = (vc == T2S_MAP.get(ord(kc), kc)  # char-table result
                      or (kc, vc) in overrides        # context override
                      or vc == kc)                    # protected identity
                assert ok, (k, v, kc, vc)

    def test_t2s_phrase_broadened_fixture(self):
        """A Traditional paragraph exercising the round-5 additions
        (verb+著 aspect chains, 著 zhuó compounds, potential
        complements, 覆-reply, 甚麼, 乾清宮) converts phrase-for-phrase
        the way OpenCC's TSPhrases subset would."""
        from kgspark.kernels.textproc import t2s_convert
        trad = ("他拿著行李走著進來，笑著說：「甚麼事這麼急？」"
                "官員答覆道，乾清宮的修繕工作正伴隨著預算反覆調整，"
                "著重解決附著在樑柱上的問題；大家沉著應對，"
                "夜裡誰也睡不著，執著地等著最終批覆。")
        simp = ("他拿着行李走着进来，笑着说：「什么事这么急？」"
                "官员答复道，乾清宫的修缮工作正伴随着预算反复调整，"
                "着重解决附着在梁柱上的问题；大家沉着应对，"
                "夜里谁也睡不着，执着地等着最终批复。")
        assert t2s_convert(trad) == simp
        # zhù senses stay 著 even amid the broadened table
        assert t2s_convert("著名學者的顯著著作") == "著名学者的显著著作"

    def test_t2s_phrase_layer_no_regression(self):
        """Text with no phrase hit must be byte-identical to the pure
        single-character pass (the phrase layer only rewrites matched
        spans)."""
        from kgspark.kernels.textproc import T2S_MAP, t2s_convert
        for s in ("推動經濟發展。香港屬於中國。",
                  "銀行提出購買計劃。馬匹與魚類。",
                  "already ascii 1234", ""):
            assert t2s_convert(s) == s.translate(T2S_MAP)

    def test_t2s_phrase_pipeline_parity(self, spark):
        """End-to-end: a Traditional paragraph containing phrase-layer
        spans yields the same triples as its hand-simplified twin (chunk
        parity preserved through the phrase pass)."""
        from kgspark.config import KgConfig
        from kgspark.pipeline import ingest
        from kgspark.pipeline.runner import build_triples

        trad = "政府藉由新政策推動發展。專家隨著時間瞭解情況。"
        simp = "政府借由新政策推动发展。专家随着时间了解情况。"

        def pages(text):
            return spark.createDataFrame(
                [("u", None, None, text, "zh")], schema=ingest.PAGES_SCHEMA)

        a = build_triples(pages(trad), KgConfig(t2s_enabled=True),
                          from_html=False, materialize=False)
        b = build_triples(pages(simp), KgConfig(),
                          from_html=False, materialize=False)
        sa = {(r.subject, r.predicate, r.object) for r in a.collect()}
        sb = {(r.subject, r.predicate, r.object) for r in b.collect()}
        assert sa == sb and sa

    def test_traditional_pipeline_beyond_lexicon_equals_simplified(self, spark):
        """A Traditional paragraph whose vocabulary lies OUTSIDE the
        round-2 engine-lexicon table must still yield the same triples as
        its Simplified twin (VERDICT r02 item 5)."""
        from kgspark.config import KgConfig
        from kgspark.pipeline import ingest
        from kgspark.pipeline.runner import build_triples

        trad = "銀行提出購買計劃。政府支持銀行擴大貸款規模。"
        simp = "银行提出购买计划。政府支持银行扩大贷款规模。"

        def pages(text):
            return spark.createDataFrame(
                [("u", None, None, text, "zh")], schema=ingest.PAGES_SCHEMA)

        a = build_triples(pages(trad), KgConfig(t2s_enabled=True),
                          from_html=False, materialize=False)
        b = build_triples(pages(simp), KgConfig(),
                          from_html=False, materialize=False)
        sa = {(r.subject, r.predicate, r.object) for r in a.collect()}
        sb = {(r.subject, r.predicate, r.object) for r in b.collect()}
        assert sa == sb and sa

    def test_traditional_pipeline_equals_simplified(self, spark):
        from kgspark.config import KgConfig
        from kgspark.pipeline import ingest
        from kgspark.pipeline.runner import build_triples

        trad = "香港政府提出新政策。政府推動經濟發展。香港屬於中國。"
        simp = "香港政府提出新政策。政府推动经济发展。香港属于中国。"

        def pages(text):
            return spark.createDataFrame(
                [("u", None, None, text, "zh")], schema=ingest.PAGES_SCHEMA)

        a = build_triples(pages(trad), KgConfig(t2s_enabled=True),
                          from_html=False, materialize=False)
        b = build_triples(pages(simp), KgConfig(),
                          from_html=False, materialize=False)
        sa = {(r.subject, r.predicate, r.object) for r in a.collect()}
        sb = {(r.subject, r.predicate, r.object) for r in b.collect()}
        assert sa == sb and sa, "traditional text must yield the simplified triples"


def test_with_header_prepends_into_chunk1(spark):
    """S-7: the header line lands at the start of the text and therefore
    in chunk 1 (reference data_processor.py:207-208)."""
    from pyspark.sql import functions as F

    from kgspark.pipeline import chunking, ingest

    pages = spark.createDataFrame(
        [("u", None, None, "The body supports testing.", "en")],
        schema=ingest.PAGES_SCHEMA)
    withh = ingest.with_header(
        pages, F.concat(F.lit("Report "), F.upper(F.col("lang"))))
    chunks = chunking.chunk_pages(withh, 100, 20).collect()
    assert chunks[0].chunk_id == 1
    assert chunks[0].chunk_text.startswith("Report EN")
    assert "The body supports testing." in chunks[0].chunk_text


class TestHotPathFastGuards:
    """The phase-1 kernel fast paths (first-word relation index, sentence
    -split rule guards, zh lead-trim guard) must be BYTE-IDENTICAL to the
    unguarded formulations — they only skip work that provably cannot
    match."""

    def test_split_sentences_parity_random(self):
        from kgspark.kernels.textproc import _SENT_RULES

        def unguarded(text):
            for pat, repl in _SENT_RULES:
                text = pat.sub(repl, text)
            return [s for s in (p.strip() for p in text.split("\n")) if s]

        rng = random.Random(7)
        alphabet = list("abc 。!?！？.\"'，…\n") + ["...", "......", "。\"", "！'"]
        cases = ["", "no enders", "....", "......x", "a。b", 'a。"b',
                 "。。。", "！？", 'end."...', "'。'a", "x...y......z。!？'q"]
        cases += ["".join(rng.choice(alphabet)
                          for _ in range(rng.randint(1, 30)))
                  for _ in range(2000)]
        for c in cases:
            assert split_sentences(c) == unguarded(c), repr(c)

    def test_zh_lead_trim_parity_random(self):
        from kgspark.kernels.triple_extract import _ZH_LEAD_TRIM, _zh_lead_trim

        rng = random.Random(11)
        alpha = list("的了在将会并和与也都及政策发展中国经济x y")
        cases = ["", "的了政策", "政策的", "都及", "x的"]
        cases += ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))
                  for _ in range(1000)]
        for c in cases:
            assert _zh_lead_trim(c) == _ZH_LEAD_TRIM.sub("", c), repr(c)

    def test_relation_index_longest_match_first_wins(self):
        """The index must preserve the lexicon's longest-match /
        first-wins semantics: 'is a type of' beats 'is a' at the same
        position, and lexicon ORDER breaks length ties."""
        got = extract_triples("Steam power is a type of energy.")
        assert got[0]["predicate"] == "is a type of"
        # same-length tie: first lexicon entry wins
        rels = ("leads to", "leads on")
        from kgspark.kernels.triple_extract import _extract_en
        t = _extract_en("Coal leads to growth.", rels)
        assert t[0]["predicate"] == "leads to"
