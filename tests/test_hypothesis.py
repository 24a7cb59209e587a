"""Property-based tests (hypothesis) over the deterministic kernels and
the phase-2/3 parity contract.

The golden tests pin exact outputs on curated fixtures; these generate
adversarial inputs — arbitrary mixed CJK/Latin text, truncated JSON,
random triple sets drawn from a tiny entity pool to force canonical-pick
ties and subset/stem merges — and check the invariants that must hold
for EVERY input.  Spark-backed properties cap example counts (each
example runs real jobs); pure-kernel properties run hundreds.
"""

from __future__ import annotations

import json

import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import example, given, settings, strategies as st

from kgspark.kernels.json_recovery import extract_json_from_text
from kgspark.kernels.textproc import chunk_text, count_words, split_sentences
from kgspark.kernels.triple_extract import EN_RELATIONS, ZH_RELATIONS, extract_triples

# -- text strategies: Latin words, CJK runs, sentence enders, whitespace --

_latin = st.text(
    alphabet="abcdefgh XYZ,.", min_size=0, max_size=40)
_cjk = st.text(alphabet="政策香港发展经济社会文化", min_size=0, max_size=12)
_enders = st.sampled_from(["。", "!", "?", "！", "？", ".", " ", "\n\n", ""])
_piece = st.one_of(_latin, _cjk, _enders)
texts = st.lists(_piece, min_size=0, max_size=30).map("".join)


@given(texts)
@settings(max_examples=300, deadline=None)
def test_chunker_no_text_loss_and_determinism(text):
    """Every sentence of every paragraph survives into some chunk
    verbatim (no silent text loss), chunks are non-empty/stripped, and
    chunking is deterministic."""
    chunks = chunk_text(text, max_length=8, overlap=5)
    assert chunks == chunk_text(text, max_length=8, overlap=5)
    for c in chunks:
        assert c and c == c.strip()
    paragraphs = [p for p in (q.strip() for q in text.split("\n\n")) if p]
    for para in paragraphs:
        for sent in split_sentences(para):
            assert any(sent in c for c in chunks), (sent, chunks)
    if not paragraphs:
        assert chunks == []


@given(texts)
@settings(max_examples=300, deadline=None)
def test_count_words_decomposition(text):
    """count_words == whitespace tokens + CJK chars (the reference's
    double-count quirk included) and is monotone under concatenation
    with a separator."""
    import re
    cjk = len(re.findall(r"[一-鿿]", text))
    assert count_words(text) == len(text.split()) + cjk
    assert count_words(text + " x") == count_words(text) + 1


# -- extraction inputs: relation words amid ASCII / U+00A0 / U+3000 padding --

_ws = st.sampled_from(["", " ", "  ", "\t", "\n", "\r\n", "\u00a0", "\u3000",
                       " \u00a0\u3000 "])
_token = st.one_of(
    st.sampled_from(EN_RELATIONS + ZH_RELATIONS),
    st.sampled_from(["Alpha", "beta", "the", "an", "engine", "steam engine",
                     "香港", "政府", "经济", "的", ",", "，", "."]),
    _latin, _cjk, _enders,
)
padded_texts = st.tuples(
    _ws, st.lists(st.tuples(_token, _ws), max_size=25), _ws,
).map(lambda t: t[0] + "".join(a + b for a, b in t[1]) + t[2])


@given(padded_texts)
@example("\u3000Alpha\u00a0supports\u3000the engine.\u00a0")
@example("\u00a0香港政府\u3000支持\u00a0经济。\u3000")
@settings(max_examples=300, deadline=None)
def test_extracted_triples_are_stripped_and_complete(text):
    """The phase-1 Spark projections rely on the kernel alone for the
    reference's validation (main.py:79-87): every emitted triple has three
    non-empty fields, each equal to its own ``.strip()``."""
    for t in extract_triples(text):
        for f in ("subject", "predicate", "object"):
            assert t[f] and t[f] == t[f].strip(), (f, t)


_triple_objs = st.lists(
    st.fixed_dictionaries({
        "subject": st.text(alphabet="abc ", min_size=1, max_size=6),
        "predicate": st.text(alphabet="xyz ", min_size=1, max_size=6),
        "object": st.text(alphabet="abc ", min_size=1, max_size=6),
    }),
    min_size=1, max_size=8,
)


@given(_triple_objs, st.integers(min_value=0, max_value=400))
@settings(max_examples=300, deadline=None)
def test_json_recovery_of_truncated_arrays(objs, cut):
    """Reference recovery ladder rung 5 (llm.py:176-200): a serialized
    array truncated anywhere returns exactly the complete leading
    objects — never garbage, never an exception."""
    full = json.dumps(objs, ensure_ascii=False)
    cut = min(cut, len(full))
    got = extract_json_from_text(full[:cut])
    if got is None:
        return  # nothing recoverable from this prefix — acceptable
    assert isinstance(got, list)
    assert got == objs[: len(got)]


@given(_triple_objs)
@settings(max_examples=200, deadline=None)
def test_json_recovery_roundtrips_fenced_and_prose(objs):
    """Intact payloads survive fences and surrounding prose exactly."""
    full = json.dumps(objs, ensure_ascii=False)
    assert extract_json_from_text(full) == objs
    assert extract_json_from_text(f"```json\n{full}\n```") == objs
    assert extract_json_from_text(f"Here you go:\n{full}\nHope it helps!") == objs


# -- Spark phase parity under generated triple sets ---------------------

_ent = st.sampled_from([
    "alpha", "Alpha", "alpha beta", "beta", "the alpha", "gamma delta",
    "gammadel", "delta", "香港", "香港政府", "政府",
])
_pred = st.sampled_from([
    "runs", "runs the", "is part of", "supports", "connects to with by",
])
_trip_rows = st.lists(
    st.tuples(_ent, _pred, _ent), min_size=1, max_size=12)


def test_phase23_parity_on_generated_triples(spark):
    """Phases 2+3 match the reference-semantics oracle on generated
    triple sets drawn from a colliding entity pool (canonical-pick
    ties, subset/stem merges, self-loops, CJK)."""
    from kgspark.pipeline.inference import infer
    from kgspark.pipeline.standardize import standardize
    from tests.conftest import triples_df
    from tests.oracle import refsem

    @given(_trip_rows)
    @settings(max_examples=8, deadline=None)
    def run(rows):
        raw = [
            {"url": "u1", "chunk": 1 + i // 4, "seq": i,
             "subject": s, "predicate": p, "object": o}
            for i, (s, p, o) in enumerate(rows)
        ]
        df = triples_df(spark, raw)
        got_df = infer(standardize(df))
        got = {
            (r["subject"], r["predicate"], r["object"], r["inferred"])
            for r in got_df.select(
                "subject", "predicate", "object", "inferred").collect()
        }
        want = {
            (t["subject"], t["predicate"], t["object"],
             bool(t.get("inferred", False)))
            for t in refsem.infer(refsem.standardize(raw))
        }
        assert got == want

    run()


def test_incremental_cc_parity_on_generated_graphs(spark):
    """incremental_connected_components equals a full CC over the union
    edge set for ANY graph and ANY base/batch split — randomized over
    small colliding node pools so merges, new nodes, self-edges-ish
    pairs, and untouched islands all occur."""
    from kgspark.pipeline.graph import (
        connected_components,
        incremental_connected_components,
    )

    node = st.integers(min_value=0, max_value=25).map(lambda i: f"n{i:02d}")
    edge = st.tuples(node, node).filter(lambda e: e[0] != e[1])
    graphs = st.tuples(
        st.lists(edge, min_size=1, max_size=25),  # base
        st.lists(edge, min_size=1, max_size=6),   # batch
    )

    @given(graphs)
    @settings(max_examples=8, deadline=None)
    def run(split):
        base, batch = split
        base_df = spark.createDataFrame(base, "src string, dst string")
        batch_df = spark.createDataFrame(batch, "src string, dst string")
        prev = connected_components(base_df)
        got = {(r.node, r.component) for r in
               incremental_connected_components(prev, batch_df).collect()}
        full = spark.createDataFrame(base + batch, "src string, dst string")
        want = {(r.node, r.component)
                for r in connected_components(full).collect()}
        assert got == want

    run()
