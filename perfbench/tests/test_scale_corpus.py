"""The scale_crawl generator: deterministic per seed, and the planted
properties hold (duplicate share, one hot domain, vocabulary size).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import corpus  # noqa: E402

N = 800


def _fingerprint(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def test_deterministic_per_seed():
    a_rows, a_truth = corpus.scale_pages(N, seed=5)
    b_rows, b_truth = corpus.scale_pages(N, seed=5)
    c_rows, _ = corpus.scale_pages(N, seed=6)
    assert _fingerprint(a_rows) == _fingerprint(b_rows)
    assert a_truth == b_truth
    assert _fingerprint(a_rows) != _fingerprint(c_rows)


def test_planted_duplicates_and_winners():
    rows, truth = corpus.scale_pages(N, seed=3)
    assert len(rows) == N
    assert len({r[0] for r in rows}) == N, "urls must be distinct"
    by_html = collections.defaultdict(list)
    for r in rows:
        by_html[r[2]].append(r[0])
    groups = sorted([sorted(u)[0], sorted(u)[1:]] for u in by_html.values() if len(u) > 1)
    assert groups == truth["dup_groups"]
    dropped = sum(len(losers) for _w, losers in truth["dup_groups"])
    assert dropped == int(N * corpus.DUP_SHARE)
    for winner, losers in truth["dup_groups"]:
        assert all(winner < u for u in losers)


def test_hot_domain_and_spam():
    rows, truth = corpus.scale_pages(N, seed=3)
    domains = collections.Counter(r[0].split("/")[2] for r in rows)
    (top, n_top), (_second, n_second) = domains.most_common(2)
    assert top == truth["hot_domain"] == corpus.HOT_DOMAIN
    assert n_top == truth["hot_pages"]
    # well above the 10%-of-corpus threshold the workload sets; no other
    # domain comes near it
    assert n_top > 2 * (N // 10) > 10 * n_second
    assert len(truth["spam"]) == int(N * corpus.SPAM_SHARE)


def test_vocabulary_long_tail():
    vocab = corpus.vocabulary(seed=3)
    forms = {f for entry in vocab for f in entry}
    assert len(vocab) == corpus.BASE_NAMES
    assert len(forms) == 4 * corpus.BASE_NAMES >= 100_000
    name, lower, article, suffixed = vocab[0]
    assert lower == name.lower() and article == f"the {name}"
    assert suffixed.startswith(name + " ") and suffixed.split()[-1] in corpus.SUFFIXES
