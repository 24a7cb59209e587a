"""Property tests of the per-document phase 2-3 kernel
(kgspark.kernels.doc_kg) against the reference-semantics oracle, in plain
Python: no Spark."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from kgspark.kernels import doc_kg
from tests.oracle import refsem

_SEP = st.sampled_from([" ", " ", "\u00a0", "\u3000"])
_WORD = st.sampled_from([
    "data", "river", "bank", "banks", "steam", "engine", "engines", "city",
    "mouth", "revolution", "revolutions", "北京", "go",
])


@st.composite
def _entity(draw):
    words = draw(st.lists(_WORD, min_size=1, max_size=3))
    ent = words[0]
    for w in words[1:]:
        ent += draw(_SEP) + w  # compounds, some joined by Unicode spaces
    if draw(st.booleans()):
        ent = draw(st.sampled_from(["the ", "The ", "a "])) + ent
    return draw(st.sampled_from([ent, ent, ent.upper(), ent.title()]))


_PRED = st.sampled_from([
    "runs", "feeds", "is part of", "flows into the", "was born in the",
    "was\u3000born\u3000in\u3000the", "connects\u00a0to with by", "leads to",
])
_DOC = st.lists(st.tuples(_entity(), _PRED, _entity()), min_size=1, max_size=14)


def _rows(doc):
    return [{"subject": s, "predicate": p, "object": o, "chunk": 1 + i // 4, "seq": i}
            for i, (s, p, o) in enumerate(doc)]


def _kernel(rows):
    std = doc_kg.standardize_doc([(r["subject"], r["predicate"], r["object"]) for r in rows])
    return std, doc_kg.infer_doc(
        [(s, p, o, rows[i]["chunk"], rows[i]["seq"]) for i, s, p, o in std])


@given(_DOC)
@settings(max_examples=400, deadline=None)
def test_doc_kg_matches_refsem(doc):
    rows = _rows(doc)
    std, final = _kernel(rows)
    std_want = refsem.standardize([dict(r) for r in rows])
    assert [(s, p, o) for _i, s, p, o in std] == [
        (t["subject"], t["predicate"], t["object"]) for t in std_want]
    # the inference steps on their own, as the oracle queries run them
    edges = doc_kg.edges_of(doc_kg.ordered(
        [(s, p, o, rows[i]["chunk"], rows[i]["seq"]) for i, s, p, o in std]))
    trans = doc_kg.transitive(edges)
    assert len(set(trans)) == len(trans)  # distinct; refsem repeats them
    assert set(trans) == {
        (t["subject"], t["predicate"], t["object"]) for t in refsem._transitive(std_want)}
    # the last original's chunk wins; inferred triples carry none
    assert {(s, p, o, inf, c) for s, p, o, inf, c, _q in final} == {
        (t["subject"], t["predicate"], t["object"], bool(t.get("inferred", False)),
         t.get("chunk"))
        for t in refsem.infer(std_want)}


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_doc_kg_ignores_row_order(data):
    """Shuffled rows that keep their seq give the same output, also when
    seq values tie."""
    doc = data.draw(_DOC)
    seqs = data.draw(st.lists(st.integers(0, 4), min_size=len(doc), max_size=len(doc)))
    rows = [(s, p, o, 1 + i // 4, q) for i, ((s, p, o), q) in enumerate(zip(doc, seqs))]
    shuffled = data.draw(st.permutations(rows))

    def std(rs):
        return sorted((s, p, o) + rs[i][3:] for i, s, p, o in
                      doc_kg.standardize_doc([r[:3] for r in rs]))

    assert std(shuffled) == std(rows)
    assert doc_kg.infer_doc(shuffled) == doc_kg.infer_doc(rows)
