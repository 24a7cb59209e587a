"""Entity-linking verification modes: exact Jaccard (default) and the
north rule's TF-IDF-weighted cosine (`lsh_verify = "tfidf"`).

The TF-IDF math is checked exactly against a pure-Python recomputation
of the same token/idf definitions, and behaviorally: boilerplate tokens
shared across many entity names must stop gluing unrelated names.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kgspark.config import KgConfig
from kgspark.pipeline import linking


def _py_tokens(s: str) -> set[str]:
    """Pure-Python replica of linking._tokens: lowercase words plus
    char-3-grams of the space-padded name, deduplicated."""
    low = s.lower()
    words = [w for w in low.split() if w]
    padded = f" {low} "
    n_grams = max(len(padded) - 2, 1)
    grams = [padded[i:i + 3] for i in range(n_grams)]
    return set(words + grams)


def _py_idf(entities: list[str]) -> dict[str, float]:
    n = len(set(entities))
    df: dict[str, int] = {}
    for e in set(entities):
        for t in _py_tokens(e):
            df[t] = df.get(t, 0) + 1
    return {t: math.log((n + 1) / (d + 1)) + 1.0 for t, d in df.items()}


def _py_cosine(e1: str, e2: str, idf: dict[str, float]) -> float:
    t1, t2 = _py_tokens(e1), _py_tokens(e2)
    inter = sum(idf[t] * idf[t] for t in t1 & t2)
    n1 = math.sqrt(sum(idf[t] ** 2 for t in t1))
    n2 = math.sqrt(sum(idf[t] ** 2 for t in t2))
    return inter / (n1 * n2)


ENTS = [
    "alpha committee",
    "beta committee",
    "gamma committee",
    "delta committee",
    "acme holdings",
    "acme holding",
    "zeta corp",
]


@pytest.fixture()
def ents_df(spark):
    return spark.createDataFrame([(e,) for e in ENTS], "entity string")


def _all_pairs(spark):
    pairs = [
        (a, b) for i, a in enumerate(ENTS) for b in ENTS[i + 1:]
    ]
    return spark.createDataFrame(pairs, "e1 string, e2 string")


def test_tfidf_cosine_matches_pure_python(spark, ents_df):
    got = {
        (r["e1"], r["e2"]): r["cosine"]
        for r in linking.verify_tfidf_cosine(
            _all_pairs(spark), ents_df, threshold=0.0).collect()
    }
    idf = _py_idf(ENTS)
    assert len(got) == len(ENTS) * (len(ENTS) - 1) // 2
    for (e1, e2), cos in got.items():
        assert cos == pytest.approx(_py_cosine(e1, e2, idf), abs=1e-9)


def test_tfidf_downweights_boilerplate(spark, ents_df):
    """'X committee' names share a high-df token; near-dup 'acme
    holding(s)' shares low-df tokens.  TF-IDF must rank the near-dup
    far above the boilerplate pair — and Jaccard alone must not."""
    out = {
        (r["e1"], r["e2"]): r["cosine"]
        for r in linking.verify_tfidf_cosine(
            _all_pairs(spark), ents_df, threshold=0.0).collect()
    }
    boiler = out[("alpha committee", "beta committee")]
    neardup = out[("acme holdings", "acme holding")]
    assert neardup > 0.7
    assert boiler < 0.6
    assert neardup > boiler + 0.2
    # Jaccard does not separate them as sharply: the boilerplate pair's
    # shared-token mass is the entire "committee" word + its grams
    jac = {
        (r["e1"], r["e2"]): r["jaccard"]
        for r in linking.verify_jaccard(_all_pairs(spark), 0.0).collect()
    }
    assert neardup - boiler > (jac[("acme holdings", "acme holding")]
                               - jac[("alpha committee", "beta committee")])


def test_link_entities_tfidf_mode(spark):
    """End-to-end: LSH candidates verified by TF-IDF cosine produce a
    (variant, canon) map with no identity rows, and the near-dup group
    collapses to one canonical form."""
    rows = [
        ("u1", "acme holdings", "located in", "london"),
        ("u2", "acme holding", "located in", "london"),
        ("u3", "acme holdings ltd", "located in", "london"),
        ("u4", "zeta corp", "located in", "paris"),
    ]
    trip = spark.createDataFrame(
        rows, "url string, subject string, predicate string, object string")
    cfg = KgConfig(lsh_verify="tfidf", lsh_tfidf_threshold=0.7)
    out = linking.link_entities(trip, cfg).collect()
    assert out, "near-dup acme variants must link"
    canons = {r["canon"] for r in out}
    variants = {r["variant"] for r in out}
    assert not (canons & variants), "map must be one-hop (no chains)"
    assert all(r["variant"] != r["canon"] for r in out)
    assert all("acme" in r["variant"] for r in out)
    # canonical pick: most frequent, then shortest, then lexical — all
    # three appear once, so the shortest form wins
    assert canons == {"acme holding"}


LSH_ENTS = [
    "Acme Holdings", "acme holdings", "ACME HOLDINGS", "acme  holdings",
    "Zeta Corp", "zeta corp", "zeta corp ", "Beta Committee",
    "beta committee", "alpha committee", "Gamma Ray", "gamma  ray",
]


def test_lsh_candidate_pairs_contract(spark):
    """Entities whose token sets are equal (case variants; whitespace
    variants differ in their char-3-grams) have equal signatures, so
    they are candidates whatever the hashes; every pair comes out once
    with e1 < e2; and bands > k is refused instead of making every pair
    a candidate through empty bands."""
    ents = spark.createDataFrame([(e,) for e in LSH_ENTS], "entity string")
    got = [(r["e1"], r["e2"]) for r in
           linking.lsh_candidate_pairs(ents, "entity", KgConfig()).collect()]
    assert len(got) == len(set(got))
    assert all(e1 < e2 for e1, e2 in got)
    same = {tuple(sorted((a, b))) for i, a in enumerate(LSH_ENTS)
            for b in LSH_ENTS[i + 1:] if _py_tokens(a) == _py_tokens(b)}
    assert ("ACME HOLDINGS", "Acme Holdings") in same
    assert len(same) == 5
    assert same <= set(got)
    with pytest.raises(ValueError, match="bands"):
        linking.lsh_candidate_pairs(
            ents, "entity", KgConfig(lsh_num_hashes=4, lsh_bands=8))
