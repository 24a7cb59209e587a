"""Phase 3 — relationship inference, one document at a time.

Reference: entity_standardization.py:190-278 (infer_relationships with
use_llm_for_inference=False): transitive inference (:321-361), lexical
similarity inference (:664-755), dedup (:363-382), final predicate limit +
self-loop filter (:268-275).  Like phase 2, the rows of each url go
through the per-document kernel ``kgspark.kernels.doc_kg`` in one url
aggregation plus one ``mapInArrow`` pass (``kgspark.pipeline.perdoc``).

Stage map (SURVEY §2.4), all in ``kgspark.kernels.doc_kg``:
  O-19 adjacency build      → ``edges_of``: (s, o) → last predicate by seq
  O-23 transitive           → ``transitive``
  O-24 lexical similarity   → ``lexical``: the O(n²) pair scan over the
        document's n entities (bounded by document size; the
        corpus-global variant is the MinHash-LSH linking stage,
        kgspark.pipeline.linking)
  O-25 dedup                → ``infer_doc``; ``dedup_triples`` below is
        the same rule as a JVM aggregation, for ``kg_dedup_triples``
  O-10 / O-18 final limit + self-loop filter → ``infer_doc``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from kgspark.kernels import doc_kg
from kgspark.pipeline.perdoc import map_docs

_ROW = ("subject", "predicate", "object", "chunk", "seq")
_STR = T.StringType()
_TRIPLE_FIELDS = [T.StructField(c, _STR) for c in ("subject", "predicate", "object")]


def transitive_inference(triples: DataFrame) -> DataFrame:
    """(url, subject, predicate, object): A→B→C ⇒ (A, f(p1,p2), C) for
    absent (A, C) (reference :321-361)."""
    return map_docs(triples, _ROW,
                    lambda rows: doc_kg.transitive(doc_kg.edges_of(doc_kg.ordered(rows))),
                    _TRIPLE_FIELDS)


def lexical_inference(triples: DataFrame) -> DataFrame:
    """(url, subject, predicate, object): shared-word / containment
    inference over unconnected entity pairs (reference :664-755).  Pair
    enumeration order canonicalized to lexical (oracle deviation D2);
    shared-word pick canonicalized to longest-then-smallest (D3)."""
    return map_docs(triples, ["subject", "object"],
                    lambda rows: doc_kg.lexical(set(rows)), _TRIPLE_FIELDS)


def dedup_triples(all_triples: DataFrame) -> DataFrame:
    """(s,p,o)-key dedup: any original (non-inferred) beats inferred; among
    originals the LAST in list order wins the payload (chunk)
    (reference :363-382 dict overwrite semantics)."""
    return all_triples.groupBy("url", "subject", "predicate", "object").agg(
        F.bool_and("inferred").alias("inferred"),
        F.max(F.when(~F.col("inferred"), F.struct("seq", "chunk")))["chunk"].alias("chunk"),
        F.min("seq").alias("seq"),
    )


def infer(triples: DataFrame) -> DataFrame:
    """Full phase 3.  Input: standardized triples (url, chunk, seq,
    subject, predicate, object).  Output: url, subject, predicate, object,
    inferred, chunk, seq — inferred rows have null chunk and seq."""
    return map_docs(triples, _ROW, doc_kg.infer_doc, [
        *_TRIPLE_FIELDS,
        T.StructField("inferred", T.BooleanType()),
        T.StructField("chunk", triples.schema["chunk"].dataType),
        T.StructField("seq", T.LongType()),
    ])
