"""Golden parity: Spark DataFrame phases 2-3 vs the reference-semantics
oracle (SURVEY §5.2 item 2).  The oracle itself was verified EXACTLY equal
to the reference's standardize_entities/infer_relationships (flags off)
over randomized inputs — see commit history."""

from __future__ import annotations

import random

import pytest

from kgspark.datagen import make_doc
from kgspark.kernels.textproc import chunk_text
from kgspark.kernels.triple_extract import extract_triples
from kgspark.pipeline.inference import infer
from kgspark.pipeline.standardize import standardize
from tests.conftest import triples_df
from tests.oracle import refsem


def _extract_doc(url: str, text: str) -> list[dict]:
    """Driver-side mirror of chunk+extract for oracle input."""
    rows = []
    for ci, chunk in enumerate(chunk_text(text, max_length=100, overlap=20), start=1):
        for t in extract_triples(chunk):
            rows.append({**t, "chunk": ci, "url": url})
    return rows


def _docs_triples(n_docs: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    out = []
    for d in range(n_docs):
        lang = ["en", "zh", "mixed"][d % 3]
        out.extend(_extract_doc(f"u{d}", make_doc(rng, lang)))
    return out


def spark_phase2(spark, raw: list[dict]):
    by_url: dict[str, list[dict]] = {}
    for t in raw:
        by_url.setdefault(t["url"], []).append(t)
    df = triples_df(spark, raw)
    got = standardize(df)
    return by_url, got


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_phase2_exact_parity(spark, seed):
    raw = _docs_triples(6, seed)
    assert raw, "fixture produced no triples"
    by_url, got = spark_phase2(spark, raw)
    mine = {
        (r["url"], r["subject"], r["predicate"], r["object"], r["chunk"])
        for r in got.select("url", "subject", "predicate", "object", "chunk").collect()
    }
    want = set()
    for url, ts in by_url.items():
        for t in refsem.standardize(ts):
            want.add((url, t["subject"], t["predicate"], t["object"], t["chunk"]))
    assert mine == want, (
        f"spark-only={sorted(mine - want)[:5]} oracle-only={sorted(want - mine)[:5]}"
    )


@pytest.mark.parametrize("seed", [4, 5])
def test_phase3_exact_parity(spark, seed):
    raw = _docs_triples(4, seed)
    by_url, std_df = spark_phase2(spark, raw)
    got = infer(std_df)
    mine = {
        (r["url"], r["subject"], r["predicate"], r["object"], bool(r["inferred"]))
        for r in got.select("url", "subject", "predicate", "object", "inferred").collect()
    }
    want = set()
    for url, ts in by_url.items():
        final = refsem.infer(refsem.standardize(ts))
        for t in final:
            want.add((url, t["subject"], t["predicate"], t["object"],
                      bool(t.get("inferred", False))))
    assert mine == want, (
        f"spark-only={sorted(mine - want)[:6]} oracle-only={sorted(want - mine)[:6]}"
    )


def test_phase3_chunk_payload_parity(spark):
    """Dedup keeps the LAST original's chunk (reference :379-381)."""
    rows = [
        {"subject": "alpha works", "predicate": "supports", "object": "beta", "chunk": 1},
        {"subject": "gamma", "predicate": "led to", "object": "delta", "chunk": 2},
        {"subject": "alpha works", "predicate": "supports", "object": "beta", "chunk": 7},
    ]
    df = triples_df(spark, rows)
    got = infer(standardize(df))
    want = refsem.infer(refsem.standardize([dict(r) for r in rows]))
    mine = {
        (r["subject"], r["predicate"], r["object"], r["chunk"], bool(r["inferred"]))
        for r in got.select("subject", "predicate", "object", "chunk", "inferred").collect()
    }
    wanted = {
        (t["subject"], t["predicate"], t["object"], t.get("chunk"),
         bool(t.get("inferred", False)))
        for t in want
    }
    assert mine == wanted


def test_invariants(spark):
    """Property tests (SURVEY §5.2 item 3): no self-loops, predicate ≤ 3
    words, idempotence of phases 2-3 on their own output."""
    raw = _docs_triples(5, seed=9)
    df = triples_df(spark, raw)
    final = infer(standardize(df))
    rows = final.collect()
    assert rows
    for r in rows:
        assert r["subject"] != r["object"]
        assert len(r["predicate"].split()) <= 3


def test_end_to_end_triple_precision_recall(spark, capsys):
    """North-rule headline: triple P/R ≥ 0.95 vs the reference-semantics
    oracle over the FULL flow (html → extract_text → chunk → pattern
    extraction → standardize → infer).  The engine targets exact parity,
    so the measured value should be 1.0."""
    from kgspark.config import KgConfig
    from kgspark.datagen import generate_rows
    from kgspark.kernels.html_extract import extract_text
    from kgspark.pipeline.ingest import PAGES_SCHEMA
    from kgspark.pipeline.runner import build_triples

    rows = generate_rows(24, seed=3)
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(4)
    got = {
        (r["url"], r["subject"], r["predicate"], r["object"], bool(r["inferred"]))
        for r in build_triples(pages, KgConfig(), from_html=True)
        .select("url", "subject", "predicate", "object", "inferred").collect()
    }
    want = set()
    for url, _ts, html, _text, _lang in rows:
        raw = _extract_doc(url, extract_text(html))
        for t in refsem.infer(refsem.standardize(raw)):
            want.add((url, t["subject"], t["predicate"], t["object"],
                      bool(t.get("inferred", False))))
    assert want, "oracle emitted no triples"
    inter = got & want
    precision = len(inter) / len(got)
    recall = len(inter) / len(want)
    print(f"\ntriple precision={precision:.4f} recall={recall:.4f} "
          f"(spark={len(got)} oracle={len(want)})")
    assert precision >= 0.95 and recall >= 0.95
    assert got == want  # engine target is exact parity, not just 0.95


def test_fused_phase1_equals_modular(spark):
    """The single-Arrow-pass phase 1 must emit exactly the modular
    chain's rows (same kernels, one Python boundary crossing)."""
    from kgspark import datagen
    from kgspark.config import KgConfig
    from kgspark.pipeline import ingest
    from kgspark.pipeline.runner import build_triples

    rows = datagen.generate_rows(80, seed=11)
    pages = spark.createDataFrame(rows, ingest.PAGES_SCHEMA).repartition(4)
    cfg = KgConfig()
    fused = build_triples(pages, cfg, from_html=True, materialize=False,
                          fused_phase1=True)
    modular = build_triples(pages, cfg, from_html=True, materialize=False,
                            fused_phase1=False)
    from collections import Counter
    cols = sorted(fused.columns)
    a = Counter(map(tuple, fused.select(*cols).collect()))
    b = Counter(map(tuple, modular.select(*cols).collect()))
    assert a == b and a


# Unicode whitespace: the reference splits words with str.split(), which
# breaks on U+00A0 / U+3000 as well as ASCII whitespace.

def _phase2_rows(spark, rows):
    got = standardize(triples_df(spark, rows)).select(
        "subject", "predicate", "object").collect()
    want = [(t["subject"], t["predicate"], t["object"])
            for t in refsem.standardize([dict(r) for r in rows])]
    return sorted(map(tuple, got)), sorted(want)


def test_nbsp_compound_merges_into_its_word(spark):
    rows = [
        {"subject": "big\u00a0data", "predicate": "drives", "object": "growth"},
        {"subject": "data", "predicate": "drives", "object": "insight"},
    ]
    got, want = _phase2_rows(spark, rows)
    assert got == want
    assert ("data", "drives", "growth") in got


def test_ideographic_space_predicate_is_limited(spark):
    rows = [{"subject": "alice", "predicate": "was\u3000born\u3000in\u3000the",
             "object": "paris"}]
    got, want = _phase2_rows(spark, rows)
    assert got == want == [("alice", "was born", "paris")]


def test_nbsp_shared_word_gives_lexical_edge(spark):
    rows = [
        {"subject": "river\u00a0bank", "predicate": "floods", "object": "town"},
        {"subject": "river mouth", "predicate": "meets", "object": "sea"},
    ]
    got = {
        (r["subject"], r["predicate"], r["object"], r["inferred"])
        for r in infer(triples_df(spark, rows)).collect()
    }
    assert got == refsem.canon(refsem.infer([dict(r) for r in rows]))
    assert ("river mouth", "related to", "river\u00a0bank", True) in got
