"""Phases 2-3 for one document: entity standardization and relationship
inference over plain Python lists.

Semantics are the reference's (entity_standardization.py:14-382 with the
LLM flags off) under the canonical orders the engine pins where the
reference depends on set iteration order:

* second-pass standard forms are scanned in (length, lexical) order;
* lexical-inference pairs are enumerated in lexical entity order;
* the shared-word pick is the longest word, ties to the smallest.

Words are ``str.split()`` words and blocking tokens are Python ``\\w``
runs, as in the reference.  Every "last wins" rule follows the row order
of :func:`ordered`: ``seq`` first, with ties broken by the row's content,
so the result does not depend on the order the rows arrive in.

The Spark phases (``kgspark.pipeline.standardize`` / ``.inference``) run
these functions per url inside one ``mapInArrow`` pass.
"""

from __future__ import annotations

import re
from collections import Counter

# reference entity_standardization.py:33
PRED_STOP_WORDS = frozenset(
    ["a", "an", "the", "of", "with", "by", "to", "from", "in", "on", "for"])
# reference entity_standardization.py:88
NORM_STOP_WORDS = frozenset([
    "the", "a", "an", "of", "and", "or", "in", "on", "at", "to",
    "for", "with", "by", "as",
])

_WORD = re.compile(r"\w+")
_INFERRED = (True, None, None)


def limit_predicate(pred: str, max_words: int = 3) -> str:
    """O-10: keep at most ``max_words`` words, dropping a trailing stop
    word when cut; a predicate within the limit keeps its own spacing."""
    ws = pred.split(None, max_words)
    if len(ws) <= max_words:
        return pred
    del ws[max_words:]
    if ws[-1].lower() in PRED_STOP_WORDS:
        ws.pop()
    return " ".join(ws)


def _merges(forms: list[str]) -> dict[str, str]:
    """O-15: subset / shared-stem merges over the standard forms, sorted
    (length, lexical); a later pair overwrites an earlier one's target."""
    words = [frozenset(f.split()) for f in forms]
    stems = [frozenset(w[:4] for w in ws if len(w) > 4) for ws in words]
    out: dict[str, str] = {}
    for i in range(len(forms) - 1):
        e1, w1, s1 = forms[i], words[i], stems[i]
        for j in range(i + 1, len(forms)):
            w2 = words[j]
            if w1 and w1 <= w2:
                out[forms[j]] = e1
            elif w2 and w2 <= w1:
                out[e1] = forms[j]
            elif s1:
                s2 = stems[j]
                k = len(s1 & s2)
                # shared / max(|s1|, |s2|) > 0.5, in integers
                if k and 2 * k > max(len(s1), len(s2)):
                    out[forms[j]] = e1
    return out


def entity_map(mentions) -> dict[str, str]:
    """O-11..O-15: lowercased variant -> standard form, from every
    lowercased subject and object occurrence of a document.

    Variants block on their stop-word-free ``\\w`` tokens (O-12/O-13); a
    block's standard form is its most frequent member, then the shortest,
    then the lexically smallest (O-14).  The subset / shared-stem pass
    then remaps a standard form's own key, one hop only (O-15)."""
    counts = Counter(mentions)
    blocks: dict[str, list[str]] = {}
    for e in counts:
        key = " ".join([w for w in _WORD.findall(e) if w not in NORM_STOP_WORDS])
        if key:
            members = blocks.get(key)
            if members is None:
                blocks[key] = [e]
            else:
                members.append(e)
    m: dict[str, str] = {}
    for members in blocks.values():
        std = members[0] if len(members) == 1 else min(
            members, key=lambda e: (-counts[e], len(e), e))
        for e in members:
            m[e] = std
    m.update(_merges(sorted(set(m.values()), key=lambda e: (len(e), e))))
    return m


def standardize_doc(rows: list[tuple]) -> list[tuple]:
    """Phase 2 over one document's ``(subject, predicate, object)`` rows.

    Returns ``(i, subject, predicate, object)`` for each row ``i`` that
    survives: entities mapped through :func:`entity_map` (O-16), the
    predicate limited (O-10), self-loops dropped (O-18)."""
    low = [(s.lower(), o.lower()) for s, _p, o in rows]
    m = entity_map([e for pair in low for e in pair])
    out = []
    for i, ((s, p, o), (ls, lo)) in enumerate(zip(rows, low)):
        s2 = m.get(ls, s)
        o2 = m.get(lo, o)
        if s2 != o2:
            out.append((i, s2, limit_predicate(p), o2))
    return out


def _order_key(r):
    s, p, o, chunk, seq = r
    return (seq is not None, seq or 0, chunk is not None, chunk or 0, s, p, o)


def ordered(rows: list[tuple]) -> list[tuple]:
    """``(subject, predicate, object, chunk, seq)`` rows in document order:
    by ``seq`` (null first), ties broken by chunk, then content."""
    return sorted(rows, key=_order_key)


def edges_of(rows: list[tuple]) -> dict[tuple, str]:
    """O-19: ``(subject, object) -> predicate`` with the last predicate of
    a pair winning, over :func:`ordered` rows."""
    return {(s, o): p for s, p, o, _c, _q in rows}


def transitive(edges: dict[tuple, str]) -> list[tuple]:
    """O-23: A→B→C gives ``(A, p, C)`` for A != C and no existing A→C edge,
    with p = "indirectly p1" when both hops share a predicate, else
    "p1 via B" (limited); distinct."""
    succ: dict[str, list[tuple]] = {}
    for (s, o), p in edges.items():
        nxt = succ.get(s)
        if nxt is None:
            succ[s] = [(o, p)]
        else:
            nxt.append((o, p))
    out: dict[tuple, None] = {}
    for (a, b), p1 in edges.items():
        for c, p2 in succ.get(b, ()):
            if c != a and (a, c) not in edges:
                p = "indirectly " + p1 if p1 == p2 else p1 + " via " + b
                out[(a, limit_predicate(p), c)] = None
    return list(out)


def lexical(edges) -> list[tuple]:
    """O-24: one triple per unconnected entity pair that shares a word
    (of 4+ characters: "relates to" towards the entity the word starts,
    else "related to") or, sharing none, where one contains the other
    ("is type of").  ``edges`` is the document's ``(subject, object)``
    pairs."""
    info = [(e, e.lower()) for e in sorted({e for pair in edges for e in pair})]
    info = [(e, le, frozenset(le.split())) for e, le in info]
    out = []
    for i, (e1, l1, w1) in enumerate(info):
        for e2, l2, w2 in info[i + 1:]:
            if not w1.isdisjoint(w2):
                shared = w1 & w2
                main = min(shared, key=lambda w: (-len(w), w))
                if len(main) < 4:
                    continue
                a, b = l1.startswith(main), l2.startswith(main)
                if a and not b:
                    hit = (e2, "relates to", e1)
                elif b and not a:
                    hit = (e1, "relates to", e2)
                else:
                    hit = (e1, "related to", e2)
            elif l1 in l2:
                hit = (e2, "is type of", e1)
            elif l2 in l1:
                hit = (e1, "is type of", e2)
            else:
                continue
            if (e1, e2) not in edges and (e2, e1) not in edges:
                out.append(hit)
    return out


def infer_doc(rows: list[tuple]) -> list[tuple]:
    """Phase 3 over one document's ``(subject, predicate, object, chunk,
    seq)`` rows.

    Returns ``(subject, predicate, object, inferred, chunk, seq)``: the
    rows plus transitive and lexical inferences, one per (s, p, o) (O-25:
    an original beats an inferred triple, the last original's chunk wins,
    seq is the first original's), then predicates limited and self-loops
    dropped."""
    rows = ordered(rows)
    edges = edges_of(rows)
    out: dict[tuple, tuple | list] = {}
    for s, p, o, chunk, seq in rows:
        cur = out.get((s, p, o))
        if cur is None:
            out[(s, p, o)] = [False, chunk, seq]
        else:
            cur[1] = chunk
            if cur[2] is None:
                cur[2] = seq
    for t in transitive(edges):
        out.setdefault(t, _INFERRED)
    for t in lexical(edges):
        out.setdefault(t, _INFERRED)
    return [(s, limit_predicate(p), o, *v) for (s, p, o), v in out.items() if s != o]
