"""O-21/O-22 — community-level relationship inference, deterministic
stand-ins for the reference's LLM-gated branches.

Reference: entity_standardization.py:458-548 (`_infer_relationships_with
_llm`, between communities) and :550-662 (`_infer_within_community_
relationships`).  Both are gated by ``inference.use_llm_for_inference``;
OFF is the parity configuration.  When enabled, the LLM *proposal* step
is replaced by deterministic rules (SURVEY §2.5):

* O-21 between-community: communities = connected components of the
  triple graph; for each unordered pair of the TOP_K largest
  communities, connect their representatives — the reference samples 5
  arbitrary members and asks the LLM; we pick the single
  highest-degree entity per community (ties: lexical min) and emit
  ``(rep_i, "related to", rep_j)``, i ranked before j by (size desc,
  component label).
* O-22 within-community: the reference's candidate generation is already
  deterministic (disconnected pairs sharing a word, or one name
  containing the other, capped at 10 per community over the top-3
  communities of size ≥ 5); we keep it and emit the capped pairs as
  ``(a, "associated with", b)`` directly instead of prompting.  Pair
  candidates are generated by a shared-word equi-join (the blocking
  shape that survives at corpus scale); containment-without-a-shared-
  word pairs (possible only for space-free names) are a documented
  deviation.  The reference's cap keeps dict-iteration order; ours is
  the deterministic (a, b) lexical order.

All triples come back with ``inferred=True`` and the predicate run
through O-10's limiter, like the reference (:536-539, :648-651).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kgspark.kernels import doc_kg
from kgspark.pipeline.graph import connected_components, degrees

BETWEEN_PRED = "related to"
WITHIN_PRED = "associated with"


def _components_ranked(edges: DataFrame, top_k: int) -> DataFrame:
    """(node, component, rank): members of the top_k largest communities,
    rank 1 = largest (ties: smaller component label first).

    Top-k selection is ``orderBy(...).limit(top_k)`` — planned as
    TakeOrderedAndProject, a distributed per-partition top-k + driver
    merge of top_k rows per partition.  The previous formulation ranked
    ALL component sizes through a global ``Window.orderBy`` row_number,
    i.e. one task sorting |components| rows — billions at crawl scale.
    The rank itself is then recovered with a ≤ top_k² self-join over the
    k surviving rows (no single-partition window anywhere; plan-asserted
    in tests/test_plans.py), bit-identical to the old ranking."""
    comp = connected_components(edges)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    top = sizes.orderBy(F.desc("sz"), "component").limit(top_k)
    before = top.select(F.col("component").alias("_c2"), F.col("sz").alias("_sz2"))
    ranked = (
        top.join(
            F.broadcast(before),
            (F.col("_sz2") > F.col("sz"))
            | ((F.col("_sz2") == F.col("sz")) & (F.col("_c2") < F.col("component"))),
            "left",
        )
        .groupBy("component", "sz")
        .agg((F.count("_c2") + 1).cast("int").alias("rank"))
    )
    return comp.join(F.broadcast(ranked), "component")


def between_community_triples(triples: DataFrame, top_k: int = 5,
                              members: DataFrame | None = None) -> DataFrame:
    """O-21: one representative triple per pair of the top_k communities.
    Returns (subject, predicate, object, inferred).  ``members`` lets the
    caller share one `_components_ranked` result across O-21 and O-22
    (the iterative CC loop is the expensive part; see
    community_inference)."""
    edges = triples.select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    if members is None:
        members = _components_ranked(edges, top_k)
    members = members.filter(F.col("rank") <= top_k)
    deg = degrees(edges)
    rep = (
        members.join(deg, "node")
        .groupBy("component", "rank")
        .agg(
            F.min_by("node", F.struct((-F.col("degree")).alias("nd"),
                                      F.col("node").alias("n"))).alias("rep")
        )
    )
    a = rep.select(F.col("rank").alias("i"), F.col("rep").alias("rep_i"))
    b = rep.select(F.col("rank").alias("j"), F.col("rep").alias("rep_j"))
    return (
        a.join(b, a["i"] < b["j"])
        .select(
            F.col("rep_i").alias("subject"),
            F.lit(doc_kg.limit_predicate(BETWEEN_PRED)).alias("predicate"),
            F.col("rep_j").alias("object"),
            F.lit(True).alias("inferred"),
        )
        .filter(F.col("subject") != F.col("object"))
    )


def within_community_triples(
    triples: DataFrame, top_k: int = 3, min_size: int = 5, max_pairs: int = 10,
    members: DataFrame | None = None
) -> DataFrame:
    """O-22: up to max_pairs disconnected-but-lexically-related pairs per
    top community.  Returns (subject, predicate, object, inferred).
    ``members`` as in between_community_triples (must cover this top_k)."""
    edges = triples.select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    if members is None:
        members = _components_ranked(edges, top_k)
    members = members.filter((F.col("rank") <= top_k) & (F.col("sz") >= min_size))

    words = members.select(
        "component", "node",
        F.explode(F.split(F.lower("node"), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    # every column aliased per side: both sides derive from words, and an
    # equality on one lineage's column would resolve to a trivially true
    # 'w == w'
    l = words.select(F.col("component").alias("c"), F.col("node").alias("a"),
                     F.col("w").alias("wa"))
    r = words.select(F.col("component").alias("c2"), F.col("node").alias("b"),
                     F.col("w").alias("wb"))
    cand = (
        l.join(r, (l["c"] == r["c2"]) & (l["wa"] == r["wb"]) & (l["a"] < r["b"]))
        .select("c", "a", "b")
        .distinct()
    )
    # drop already-connected pairs (either direction, reference :577-581)
    e1 = triples.select(F.col("subject").alias("a"), F.col("object").alias("b"))
    e2 = triples.select(F.col("object").alias("a"), F.col("subject").alias("b"))
    connected = e1.union(e2).distinct()
    cand = cand.join(connected, ["a", "b"], "left_anti")
    w = Window.partitionBy("c").orderBy("a", "b")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_pairs)
        .select(
            F.col("a").alias("subject"),
            F.lit(doc_kg.limit_predicate(WITHIN_PRED)).alias("predicate"),
            F.col("b").alias("object"),
            F.lit(True).alias("inferred"),
        )
    )


def community_inference(triples: DataFrame, url: str = "kg://community") -> DataFrame:
    """O-21 + O-22 combined, shaped like pipeline triples (url, subject,
    predicate, object, chunk, seq, inferred) for appending after phase 3."""
    # ONE connected-components run shared by O-21 and O-22: rank to the
    # larger of the two top_k's and let each sub-operator filter down —
    # the iterative CC loop dominates this operator's cost and ran twice
    # before (once per sub-operator) on the identical edge set
    edges = triples.select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    members = _components_ranked(edges, top_k=5)
    both = between_community_triples(triples, members=members).unionByName(
        within_community_triples(triples, members=members)
    )
    # seq orders rows per document (url), as pipeline seq does; url is one
    # constant here, so the order equals a global window's, minus Spark's
    # "No Partition Defined" single-partition warning
    w = Window.partitionBy("url").orderBy("predicate", "subject", "object")
    return both.withColumn("url", F.lit(url)).select(
        "url", "subject", "predicate", "object",
        F.lit(0).cast("int").alias("chunk"),
        F.row_number().over(w).cast("long").alias("seq"),
        "inferred",
    )
