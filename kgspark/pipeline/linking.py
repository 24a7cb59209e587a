"""Corpus-scale entity linking: MinHash-LSH candidate generation +
exact-verify + connected-components canonicalization.

This is the scale path the north rule names ("TF-IDF/MinHash-LSH entity
linking with connected-components canonicalization") — the deterministic
stand-in for the reference's LLM entity-resolution branch
(entity_standardization.py:384-456, use_llm_for_entities flag).  It is
config-gated OFF in the parity configuration and ON for corpus-scale runs.

Design (all JVM-side, no Python):
  1. tokenize entity names (words + char-3-gram shingles)
  2–4. MinHash-LSH over the tokens: ``ops.dedupe.lsh_candidates``, the
     same core document dedup bands through (k ``xxhash64`` min-hashes,
     bucket = hash of each band slice, equi-join on (band, bucket) →
     candidate pairs; bucket sizes are capped by banding, AQE skew-join
     handles residual hotspots)
  5. exact verify: token-set Jaccard ≥ threshold (default), or
     corpus-IDF-weighted cosine (``lsh_verify = "tfidf"``) — the north
     rule's "TF-IDF" variant; shared boilerplate tokens get low idf
     weight instead of gluing unrelated names
  6. connected components over accepted pairs → canonical representative
     per component picked by (max frequency, min length, lexical) — the
     same rule as phase-2's O-14 pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kgspark.config import KgConfig
from kgspark.ops.dedupe import lsh_candidates
from kgspark.pipeline.graph import connected_components


def _tokens(col):
    words = F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(padded) - 2, F.lit(1))),
        lambda i: padded.substr(i, F.lit(3)),
    )
    return F.array_distinct(F.concat(words, grams))


def lsh_candidate_pairs(ents: DataFrame, entity_col: str, cfg: KgConfig) -> DataFrame:
    """Candidate (e1, e2) pairs, e1 < e2, sharing at least one LSH band
    bucket of their token MinHash signatures."""
    # two-step projection: computing the token array in its own Project
    # avoids Spark 4.1's LateralColumnAliasReference internal error when the
    # source column shares the output name
    toks = (
        ents.select(F.col(entity_col).alias("id"))
        .withColumn("_toks", _tokens(F.col("id")))
        .select("id", F.explode("_toks").alias("shingle"))
    )
    return lsh_candidates(toks, cfg.lsh_num_hashes, cfg.lsh_bands).select(
        F.col("id1").alias("e1"), F.col("id2").alias("e2"))


def verify_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs."""
    t1, t2 = _tokens(F.col("e1")), _tokens(F.col("e2"))
    inter = F.size(F.array_intersect(t1, t2)).cast("double")
    union = F.size(F.array_union(t1, t2)).cast("double")
    return pairs.withColumn("jaccard", inter / union).filter(
        F.col("jaccard") >= threshold
    )


def entity_idf(ents: DataFrame, entity_col: str = "entity") -> DataFrame:
    """(tok, idf) over the DISTINCT entity vocabulary: smoothed
    idf = ln((N+1)/(df+1)) + 1.  One exploded groupBy — the document
    frequency table is tiny relative to the corpus (bounded by the
    token vocabulary) and broadcastable downstream."""
    toks = ents.select(
        F.explode(_tokens(F.col(entity_col))).alias("tok"), F.col(entity_col)
    ).distinct()
    n = ents.select(entity_col).distinct().count()
    return toks.groupBy("tok").agg(
        (F.log((F.lit(float(n + 1))) / (F.count("*") + 1)) + 1.0).alias("idf")
    )


def verify_tfidf_cosine(pairs: DataFrame, ents: DataFrame, threshold: float,
                        entity_col: str = "entity") -> DataFrame:
    """IDF-weighted cosine on candidate pairs (set semantics: names are
    short, so tf is 0/1) — the north rule's "TF-IDF" verification.

    sim(e1, e2) = Σ_{t ∈ T1∩T2} idf(t)² / (‖w1‖ · ‖w2‖)

    Unlike raw Jaccard, tokens shared by many entity names ("ltd",
    "committee", char-grams of common suffixes) carry low idf and stop
    gluing unrelated names together.  Plan shape: one exploded
    groupBy builds a per-entity (tok → idf) map + L2 norm, the feature
    table joins onto each side of the (already banded) candidate pairs,
    and the intersection weight is a vectorized higher-order
    ``aggregate`` over ``map_keys`` — no Python, no extra self-join."""
    idf = entity_idf(ents, entity_col)
    feats = (
        ents.select(F.col(entity_col).alias("_e"))
        .distinct()
        .select("_e", F.explode(_tokens(F.col("_e"))).alias("tok"))
        .join(idf, "tok")
        .groupBy("_e")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("tok", "idf"))).alias("w"),
            F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("norm"),
        )
    )
    f1 = feats.select(F.col("_e").alias("_e1"), F.col("w").alias("w1"),
                      F.col("norm").alias("n1"))
    f2 = feats.select(F.col("_e").alias("_e2"), F.col("w").alias("w2"),
                      F.col("norm").alias("n2"))
    inter = F.aggregate(
        F.array_intersect(F.map_keys("w1"), F.map_keys("w2")),
        F.lit(0.0),
        lambda acc, t: acc + F.element_at("w1", t) * F.element_at("w2", t),
    )
    return (
        pairs.join(f1, pairs["e1"] == f1["_e1"])
        .join(f2, pairs["e2"] == f2["_e2"])
        .withColumn("cosine", inter / (F.col("n1") * F.col("n2")))
        .filter(F.col("cosine") >= threshold)
        .select("e1", "e2", "cosine")
    )


def link_entities(triples: DataFrame, cfg: KgConfig) -> DataFrame:
    """Corpus-wide (variant → canonical) map via LSH + CC.

    Input: triples with subject/object columns.  Output: (variant, canon).
    """
    ents = (
        triples.select(F.explode(F.array("subject", "object")).alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    cands = lsh_candidate_pairs(ents.select("entity"), "entity", cfg)
    if cfg.lsh_verify == "tfidf":
        pairs = verify_tfidf_cosine(
            cands, ents.select("entity"), cfg.lsh_tfidf_threshold)
    elif cfg.lsh_verify == "jaccard":
        pairs = verify_jaccard(cands, cfg.lsh_jaccard_threshold)
    else:  # a typo'd verifier must not silently run the wrong math
        raise ValueError(
            f"unknown lsh_verify {cfg.lsh_verify!r}: use 'jaccard' or 'tfidf'")
    comp = connected_components(pairs.select("e1", "e2"), src="e1", dst="e2")
    # canonical pick per component: most frequent, then shortest, then lexical
    with_cnt = comp.join(ents, comp["node"] == ents["entity"]).select(
        "component", "node", "cnt"
    )
    canon = with_cnt.groupBy("component").agg(
        F.min_by(
            "node", F.struct((-F.col("cnt")).alias("nc"), F.length("node"), F.col("node"))
        ).alias("canon")
    )
    out = (
        comp.join(canon, "component")
        .select(F.col("node").alias("variant"), "canon")
        .filter(F.col("variant") != F.col("canon"))
    )
    ents.unpersist()
    return out


def apply_linking(triples: DataFrame, link_map: DataFrame,
                  max_broadcast_rows: int = 5_000_000) -> DataFrame:
    """Rewrite subject/object through the (variant → canon) map.

    The link map grows with the entity vocabulary, so broadcast only
    under ``max_broadcast_rows``
    (cfg ``broadcast_map_max_rows``); above it the two applies shuffle
    on the entity key.  The sizing count runs on the UNpersisted frame —
    the map's tail lineage ends at connected_components' persisted label
    iterate, so recompute is cheap, and persisting here would leak a
    cached RDD per invocation in long-lived drivers (no unpersist hook
    exists after the lazy output materializes).
    """
    if link_map.count() <= max_broadcast_rows:
        link_map = F.broadcast(link_map)
    ms = link_map.select(F.col("variant").alias("_vs"), F.col("canon").alias("_cs"))
    mo = link_map.select(F.col("variant").alias("_vo"), F.col("canon").alias("_co"))
    out = (
        triples.join(ms, triples["subject"] == ms["_vs"], "left")
        .join(mo, triples["object"] == mo["_vo"], "left")
    )
    keep = [c for c in triples.columns if c not in ("subject", "object")]
    return out.select(
        *keep,
        F.coalesce("_cs", "subject").alias("subject"),
        F.coalesce("_co", "object").alias("object"),
    ).filter(F.col("subject") != F.col("object"))
