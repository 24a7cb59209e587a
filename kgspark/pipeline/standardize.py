"""Phase 2 — entity standardization, one document at a time.

Reference: entity_standardization.py:40-188 (standardize_entities with
use_llm_for_entities=False).  The reference standardizes one document per
run; here the rows of each url go through the per-document kernel
``kgspark.kernels.doc_kg`` in one url aggregation plus one ``mapInArrow``
pass (``kgspark.pipeline.perdoc``), so the work distributes across
documents with no corpus-global state.

Stage map (SURVEY §2.4), all in ``kgspark.kernels.doc_kg``:
  O-11 entity extraction       → ``standardize_doc``: lowercased subject
        and object mentions
  O-12 normalize-for-blocking  → ``entity_map``: stop-word-free ``\\w``
        tokens of the variant
  O-13 blocking                → ``entity_map``: dict keyed by that token
        string
  O-14 canonical pick          → ``entity_map``: min over (-count, length,
        variant) — the reference's stable sort over its (-len, lex) presort
  O-15 second-pass subset/stem → ``_merges``: the reference's i<j loop over
        the (length, lexical)-sorted standard forms, last write wins;
        one-hop application only (the reference does NOT transitively
        close — :160-162)
  O-16 apply mapping           → ``standardize_doc``
  O-10 predicate limit         → ``limit_predicate``
  O-18 self-loop filter        → ``standardize_doc``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from kgspark.kernels import doc_kg
from kgspark.pipeline.perdoc import map_docs

_TRIPLE = ("subject", "predicate", "object")
_STR = T.StringType()


def _doc_map(rows: list[tuple]) -> list[tuple]:
    return list(doc_kg.entity_map(
        [e.lower() for s, o in rows for e in (s, o)]).items())


def build_entity_map(triples: DataFrame) -> DataFrame:
    """(url, variant, std): the per-document variant→standard mapping of
    phase 2, as rows (the ``kg_standardize_map`` oracle query)."""
    return map_docs(triples, ["subject", "object"], _doc_map,
                    [T.StructField("variant", _STR), T.StructField("std", _STR)])


def standardize(triples: DataFrame, broadcast_map: bool | None = None,
                max_broadcast_rows: int = 5_000_000) -> DataFrame:
    """Full phase 2: map each document's entities to their standard forms,
    limit predicates, default ``chunk`` to 0, drop self-loops.

    Output: the input's other columns in their order, then subject,
    predicate, object, chunk (int).  ``broadcast_map`` and
    ``max_broadcast_rows`` are unused: the mapping never leaves its
    document, so there is no map to broadcast.  They stay in the
    signature because ``runner.build_triples`` passes them."""
    carry = [c for c in triples.columns if c not in ("url", *_TRIPLE)]
    out = map_docs(triples, _TRIPLE, doc_kg.standardize_doc,
                   [T.StructField(c, _STR) for c in _TRIPLE], carry=carry)
    chunk = F.coalesce("chunk", F.lit(0)) if "chunk" in carry else F.lit(0)
    keep = [c for c in triples.columns if c not in (*_TRIPLE, "chunk")]
    return out.select(*keep, *_TRIPLE, chunk.cast("int").alias("chunk"))
