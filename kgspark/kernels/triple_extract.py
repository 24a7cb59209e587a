"""Deterministic pattern-template triple extraction kernel.

Replaces the reference's per-chunk LLM extraction
(/root/reference/src/knowledge_graph/main.py:19-97 + llm.py:6-107) with a
deterministic, seedless SVO pattern extractor, per the engine's north rule
("batched mention detection, dependency-pattern + prompt-template triple
extraction").  The *output contract* matches the reference exactly:
a list of ``{"subject","predicate","object"}`` per chunk with each field
``str(...).strip()``-validated (main.py:79-87) and predicates at most
3 words (the reference prompt demands ≤3 — main.py:45).

Applied batched over a ``pd.Series`` of chunk strings inside an Arrow UDF
(kgspark.pipeline.extraction).  Pure function: identical output across
reruns and parallelism levels.
"""

from __future__ import annotations

import functools
import re

from kgspark.kernels.textproc import split_sentences

# --- relation lexicon (prompt-template analog) ------------------------------
# English relation phrases, longest-match-first.  1-3 words each so the
# predicate limit holds by construction.
EN_RELATIONS: tuple[str, ...] = (
    "was invented by",
    "is part of",
    "is a type of",
    "is a",
    "is an",
    "led to",
    "leads to",
    "results in",
    "resulted in",
    "depends on",
    "consists of",
    "supports",
    "promotes",
    "develops",
    "developed",
    "includes",
    "requires",
    "improves",
    "expands",
    "expanded",
    "proposes",
    "proposed",
    "provides",
    "creates",
    "created",
    "launches",
    "launched",
    "strengthens",
    "established",
    "establishes",
    "powered",
    "powers",
    "transformed",
    "transforms",
    "enables",
    "enabled",
    "uses",
    "builds",
    "funds",
    "governs",
    "regulates",
    "precedes",
    "produces",
    "contains",
)

# Chinese relation words (the reference prompt demands predicates of at
# most 3 characters — main.py:45 "关系词（predicate）最多3个字").
ZH_RELATIONS: tuple[str, ...] = (
    "提出", "支持", "促进", "推动", "发展", "包括", "建设", "加强",
    "改善", "提供", "投资", "设立", "扩大", "鼓励", "吸引", "培养",
    "保护", "优化", "落实", "推行", "资助", "属于", "需要", "带来",
)

_EN_ARTICLES = {"the", "a", "an"}
_EN_CLAUSE_SPLIT = re.compile(r",\s+|;\s+|\s+and\s+(?=[A-Z])")
_ZH_CLAUSE_SPLIT = re.compile(r"[，、；：,;:]")
_CJK_RE = re.compile(r"[一-鿿]")
_EDGE_PUNCT = ".,;:!?。！？\"'()（）【】[]"
_ZH_LEAD_TRIM = re.compile(r"^(的|了|在|将|会|并|和|与|也|都|及)+")
_ZH_LEAD_CHARS = "的了在将会并和与也都及"


def _zh_lead_trim(s: str) -> str:
    """`_ZH_LEAD_TRIM.sub("", s)` with a first-char guard — the regex can
    only match when the string starts with a trim char, and most phrases
    don't (hot-loop micro-cost, byte-identical output)."""
    if s and s[0] in _ZH_LEAD_CHARS:
        return _ZH_LEAD_TRIM.sub("", s)
    return s

MAX_TRIPLES_PER_SENTENCE = 5
MAX_PHRASE_WORDS = 4


def _clean_word(w: str) -> str:
    return w.strip(_EDGE_PUNCT)


def _subject_phrase(words: list[str]) -> str:
    """Trailing noun phrase of the tokens left of the verb."""
    tail = [w for w in (_clean_word(x) for x in words) if w]
    while tail and tail[0].lower() in _EN_ARTICLES:
        tail = tail[1:]
    tail = tail[-MAX_PHRASE_WORDS:]
    while tail and tail[0].lower() in _EN_ARTICLES:
        tail = tail[1:]
    return " ".join(tail)


def _object_phrase(words: list[str]) -> tuple[str, int]:
    """Leading noun phrase right of the verb; returns (phrase, consumed)."""
    out: list[str] = []
    consumed = 0
    for w in words:
        consumed += 1
        cw = _clean_word(w)
        if not cw:
            break
        if not out and cw.lower() in _EN_ARTICLES:
            continue
        out.append(cw)
        # sentence-internal punctuation ends the phrase
        if w[-1:] in ",.;:!?":
            break
        if len(out) >= MAX_PHRASE_WORDS:
            break
    return " ".join(out), consumed


@functools.lru_cache(maxsize=8)
def _relation_index(relations: tuple[str, ...]) -> dict[str, list[tuple[list[str], str]]]:
    """First-word index over the relation lexicon: a phrase can only match
    at position ``i`` when its first word equals ``lowered[i]``, so the
    per-position scan collapses from |lexicon| splits+compares to a dict
    probe (the phase-1 hot loop — ~260 redundant ``str.split`` calls per
    sentence before this).  Bucket order preserves lexicon order, so the
    strict longest-match / first-wins tie-break is unchanged."""
    idx: dict[str, list[tuple[list[str], str]]] = {}
    for rel in relations:
        rw = rel.split()
        idx.setdefault(rw[0], []).append((rw, rel))
    return idx


def _extract_en(sentence: str, relations: tuple[str, ...]) -> list[dict]:
    rel_idx = _relation_index(relations)
    triples: list[dict] = []
    for clause in _EN_CLAUSE_SPLIT.split(sentence):
        words = clause.split()
        if len(words) < 3:
            continue
        lowered = [_clean_word(w).lower() for w in words]
        i = 0
        while i < len(words) and len(triples) < MAX_TRIPLES_PER_SENTENCE:
            match_len = 0
            match_rel = None
            for rw, rel in rel_idx.get(lowered[i], ()):
                if len(rw) > match_len and lowered[i : i + len(rw)] == rw:
                    match_len = len(rw)
                    match_rel = rel
            if match_rel is None:
                i += 1
                continue
            subj = _subject_phrase(words[:i])
            obj, consumed = _object_phrase(words[i + match_len :])
            i += match_len + max(consumed, 1)
            if subj and obj and subj != obj:
                triples.append(
                    {"subject": subj, "predicate": match_rel, "object": obj}
                )
        if len(triples) >= MAX_TRIPLES_PER_SENTENCE:
            break
    return triples


def _extract_zh(sentence: str, relations: tuple[str, ...]) -> list[dict]:
    triples: list[dict] = []
    for clause in _ZH_CLAUSE_SPLIT.split(sentence):
        clause = clause.strip().strip(_EDGE_PUNCT)
        if len(clause) < 3:
            continue
        best = None  # (pos, -len, rel)
        for rel in relations:
            pos = clause.find(rel)
            if pos > 0:  # subject must be non-empty
                key = (pos, -len(rel), rel)
                if best is None or key < best:
                    best = key
        if best is None:
            continue
        pos, neg_len, rel = best
        subj = _zh_lead_trim(clause[:pos].strip())
        obj = _zh_lead_trim(clause[pos + len(rel):].strip())
        subj = subj.strip(_EDGE_PUNCT)
        obj = obj.strip(_EDGE_PUNCT)
        if subj and obj and subj != obj:
            triples.append({"subject": subj, "predicate": rel, "object": obj})
        if len(triples) >= MAX_TRIPLES_PER_SENTENCE:
            break
    return triples


def extract_triples(
    chunk: str,
    en_relations: tuple[str, ...] = EN_RELATIONS,
    zh_relations: tuple[str, ...] = ZH_RELATIONS,
) -> list[dict]:
    """Extract SVO triples from one chunk of text.

    Validation semantics mirror the reference (main.py:79-87): every field
    stripped, all three required, emitted in sentence order.
    """
    if not chunk:
        return []
    out: list[dict] = []
    for sentence in split_sentences(chunk):
        if _CJK_RE.search(sentence):
            found = _extract_zh(sentence, zh_relations)
            if not found:
                found = _extract_en(sentence, en_relations)
        else:
            found = _extract_en(sentence, en_relations)
        out.extend(found)
    # final validate/trim, as the reference does on the LLM response
    valid = []
    for t in out:
        s = str(t["subject"]).strip()
        p = str(t["predicate"]).strip()
        o = str(t["object"]).strip()
        if s and p and o:
            valid.append({"subject": s, "predicate": p, "object": o})
    return valid
