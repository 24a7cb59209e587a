"""Analytics query surface over the triples table (SURVEY §2.6, A-1..A-13).

Every function is a pure DataFrame transform; results are small aggregates.
Reference files: analyze_kg_data.py, policy_comparative_analyzer.py,
policy_evolution_analyzer.py, analyze_hk_central_relations.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def basic_stats(triples: DataFrame, approximate: bool = False,
                rsd: float = 0.02) -> DataFrame:
    """A-1 (analyze_kg_data.py:24-48).

    ``approximate=True`` swaps every countDistinct for a HyperLogLog++
    sketch (``approx_count_distinct``, relative error ``rsd``): exact
    distinct counts over a 10^12-row corpus shuffle every distinct
    value, while the sketches merge map-side into a few KB per
    partition — the right default at 100 TB when the consumer is a
    dashboard, not an oracle.  Exact remains the default (and the
    driver-oracle path)."""
    cd = (lambda c: F.approx_count_distinct(c, rsd)) if approximate \
        else F.countDistinct
    ents = triples.select(F.col("subject").alias("e")).union(
        triples.select(F.col("object").alias("e"))
    )
    return triples.agg(
        F.count("*").alias("total_triples"),
        cd("subject").alias("unique_subjects"),
        cd("predicate").alias("unique_predicates"),
        cd("object").alias("unique_objects"),
    ).crossJoin(ents.agg(cd("e").alias("unique_entities")))


def top_predicates(triples: DataFrame, k: int = 20) -> DataFrame:
    """A-2: top-k predicates with percentage (analyze_kg_data.py:50-64).
    Deterministic tie-break on the predicate string."""
    counts = triples.groupBy("predicate").agg(F.count("*").alias("cnt"))
    # scalar-agg denominator + broadcast crossJoin instead of an
    # unpartitioned window (which funnels every row through one partition)
    total = F.broadcast(counts.agg(F.sum("cnt").alias("_total")))
    return (
        counts.crossJoin(total)
        .withColumn("pct", F.round(F.col("cnt") * 100.0 / F.col("_total"), 4))
        .drop("_total")
        .orderBy(F.desc("cnt"), "predicate")
        .limit(k)
    )


def entity_frequency(triples: DataFrame, k: int = 20) -> DataFrame:
    """A-3: mentions as subject or object (analyze_kg_data.py:66-85)."""
    return (
        triples.select(F.explode(F.array("subject", "object")).alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("mentions"))
        .orderBy(F.desc("mentions"), "entity")
        .limit(k)
    )


def role_histograms(triples: DataFrame, k: int = 10) -> DataFrame:
    """A-4: subject and object histograms in one relation, ``role`` column."""
    roles = triples.select(F.lit("subject").alias("role"),
                           F.col("subject").alias("entity")).union(
        triples.select(F.lit("object").alias("role"), F.col("object").alias("entity"))
    )
    counts = roles.groupBy("role", "entity").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("role").orderBy(F.desc("cnt"), "entity")
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def chunk_distribution(triples: DataFrame) -> DataFrame:
    """A-5: per-chunk triple distribution (analyze_kg_data.py:109-134)."""
    per = triples.filter(F.col("chunk").isNotNull()).groupBy("url", "chunk").agg(
        F.count("*").alias("cnt")
    )
    return per.agg(
        F.round(F.avg("cnt"), 4).alias("avg_per_chunk"),
        F.max("cnt").alias("max_per_chunk"),
        F.min("cnt").alias("min_per_chunk"),
        F.count("*").alias("chunks"),
    )


def topic_classification(triples: DataFrame, themes: dict[str, list[str]]) -> DataFrame:
    """A-6: keyword-theme conditional aggregation
    (analyze_kg_data.py:136-169; policy_comparative_analyzer.py:64-106).
    A triple hits a theme if any keyword is a substring of "s p o"."""
    text = F.concat_ws(" ", "subject", "predicate", "object")
    aggs = []
    for theme, kws in sorted(themes.items()):
        hit = None
        for kw in kws:
            c = F.instr(text, kw) > 0
            hit = c if hit is None else (hit | c)
        aggs.append(F.sum(F.when(hit, 1).otherwise(0)).alias(theme))
    return triples.agg(F.count("*").alias("total"), *aggs)


def pair_patterns(triples: DataFrame, k: int = 10) -> DataFrame:
    """A-7: top (subject,predicate) and (predicate,object) pairs."""
    sp = triples.select(F.lit("sp").alias("kind"), F.col("subject").alias("a"),
                        F.col("predicate").alias("b"))
    po = triples.select(F.lit("po").alias("kind"), F.col("predicate").alias("a"),
                        F.col("object").alias("b"))
    counts = sp.union(po).groupBy("kind", "a", "b").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("kind").orderBy(F.desc("cnt"), "a", "b")
    return counts.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def graph_metrics(triples: DataFrame) -> DataFrame:
    """A-8: node/edge counts + density (analyze_kg_data.py:195-224).
    Density = E / (N*(N-1)) for a directed simple graph."""
    edges = triples.select("subject", "object").distinct()
    nodes = triples.select(F.col("subject").alias("e")).union(
        triples.select(F.col("object").alias("e"))
    ).distinct()
    e = edges.agg(F.count("*").alias("edges"))
    n = nodes.agg(F.count("*").alias("nodes"))
    return e.crossJoin(n).select(
        "nodes", "edges",
        F.round(
            F.col("edges") / (F.col("nodes") * (F.col("nodes") - F.lit(1))), 6
        ).alias("density"),
    )


def degree_centrality(triples: DataFrame, k: int = 10) -> DataFrame:
    """A-8/A-15 degree top-k; normalized like networkx (deg / (N-1))."""
    from kgspark.pipeline.graph import degrees

    deg = degrees(triples, src="subject", dst="object").withColumnRenamed(
        "node", "entity")
    # node count as a broadcast scalar, not a driver-side deg.count()
    # action mid-plan-construction (one job instead of two)
    n = F.broadcast(deg.agg(F.greatest(F.count("*") - 1, F.lit(1)).alias("_nm1")))
    return (
        deg.crossJoin(n)
        .withColumn("centrality", F.round(F.col("degree") / F.col("_nm1"), 6))
        .drop("_nm1")
        .orderBy(F.desc("degree"), "entity")
        .limit(k)
    )


def period_graph_metrics(triples: DataFrame, period_col: str = "period") -> DataFrame:
    """A-9: per-period network metrics (reference
    policy_comparative_analyzer.py:108-156: per-year nodes, edges,
    density, avg clustering, #components over the undirected simple
    graph).  All periods in ONE job each — the group key rides through
    the triangle/CC machinery instead of a driver-side loop per period.

    Returns (period, nodes, edges, density, avg_clustering, components);
    density = 2E/(N(N-1)), avg_clustering = mean local coefficient over
    all nodes (degree<2 counts 0, networkx average_clustering)."""
    from kgspark.pipeline.graph import clustering_coefficients, connected_components

    edges = (
        triples.select(period_col, F.col("subject").alias("src"),
                       F.col("object").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pairs = edges.select(
        period_col,
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"),
    ).distinct()
    ecnt = pairs.groupBy(period_col).agg(F.count("*").alias("edges"))
    ncnt = (
        pairs.select(period_col, F.explode(F.array("a", "b")).alias("node"))
        .distinct()
        .groupBy(period_col)
        .agg(F.count("*").alias("nodes"))
    )
    clus = (
        clustering_coefficients(edges, key=period_col)
        .groupBy(period_col)
        .agg(F.round(F.avg("clustering"), 6).alias("avg_clustering"))
    )
    comps = (
        connected_components(edges, key=period_col)
        .groupBy(period_col)
        .agg(F.countDistinct("component").alias("components"))
    )
    return (
        ncnt.join(ecnt, period_col).join(clus, period_col).join(comps, period_col)
        .select(
            period_col, "nodes", "edges",
            F.when(
                F.col("nodes") >= 2,
                F.round(2.0 * F.col("edges") / (F.col("nodes") * (F.col("nodes") - 1)), 6),
            ).otherwise(0.0).alias("density"),
            "avg_clustering", "components",
        )
    )


def discourse_shift(
    triples: DataFrame, period_col: str, themes: dict[str, list[str]],
    threshold: float = 3.0,
) -> DataFrame:
    """A-12: per-period theme percentage, lag delta, flag |delta| > threshold
    (policy_comparative_analyzer.py:189-229) — the reference's only
    windowed computation."""
    text = F.concat_ws(" ", "subject", "predicate", "object")
    rows = []
    for theme, kws in sorted(themes.items()):
        hit = None
        for kw in kws:
            c = F.instr(text, kw) > 0
            hit = c if hit is None else (hit | c)
        rows.append((theme, hit))
    per = triples.groupBy(period_col).agg(
        F.count("*").alias("total"),
        *[F.sum(F.when(hit, 1).otherwise(0)).alias(f"_{theme}") for theme, hit in rows],
    )
    stacked = None
    for theme, _ in rows:
        part = per.select(
            F.col(period_col).alias("period"),
            F.lit(theme).alias("theme"),
            F.round(F.col(f"_{theme}") * 100.0 / F.col("total"), 4).alias("pct"),
        )
        stacked = part if stacked is None else stacked.union(part)
    w = Window.partitionBy("theme").orderBy("period")
    return (
        stacked.withColumn("prev_pct", F.lag("pct").over(w))
        .withColumn("delta", F.round(F.col("pct") - F.col("prev_pct"), 4))
        .withColumn(
            "shift_flag",
            F.when(F.abs(F.col("delta")) > threshold, True).otherwise(False),
        )
    )


def entity_tracking(triples: DataFrame, period_col: str, entities: list[str]) -> DataFrame:
    """A-13: per-period triple counts mentioning tracked entities
    (policy_evolution_analyzer.py:140-165)."""
    aggs = [
        F.sum(
            F.when(
                (F.instr(F.lower("subject"), e.lower()) > 0)
                | (F.instr(F.lower("object"), e.lower()) > 0),
                1,
            ).otherwise(0)
        ).alias(e.replace(" ", "_"))
        for e in entities
    ]
    return triples.groupBy(period_col).agg(F.count("*").alias("total"), *aggs)


def keyword_filter(triples: DataFrame, subject_kws: list[str] | None = None,
                   predicate_kws: list[str] | None = None,
                   object_kws: list[str] | None = None) -> DataFrame:
    """A-10: keyword-filtered relation extraction
    (analyze_hk_central_relations.py:18-72) — substring predicates over
    s/p/o; plain pushdown-friendly filters."""
    out = triples

    def any_hit(col, kws):
        cond = None
        for kw in kws:
            c = F.instr(F.lower(col), kw.lower()) > 0
            cond = c if cond is None else (cond | c)
        return cond

    if subject_kws:
        out = out.filter(any_hit(F.col("subject"), subject_kws))
    if predicate_kws:
        out = out.filter(any_hit(F.col("predicate"), predicate_kws))
    if object_kws:
        out = out.filter(any_hit(F.col("object"), object_kws))
    return out


def node_importance(triples: DataFrame, max_betweenness_nodes: int = 20000,
                    btw_k_sources: int = 64) -> DataFrame:
    """A-17: weighted node-importance / viz-size scoring (reference
    visualization.py:207-227): importance = 0.5·deĝ + 0.3·btŵ + 0.2·eiĝ
    (each max-normalized), size = 10 + 20·importance.

    Degree and eigenvector are distributed, and so is betweenness
    (graph.betweenness_centrality, one Brandes): exact up to
    ``max_betweenness_nodes`` nodes (the reference's networkx call,
    visualization.py:168 — viz-scale graphs), and the ``btw_k_sources``
    top-degree pivots beyond it — no raise path at corpus scale.
    Returns (node, degree, importance, size)."""
    from kgspark.pipeline.graph import (
        betweenness_centrality,
        degrees,
        eigenvector_centrality,
    )

    edges = triples.select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    deg = degrees(edges)
    eig = eigenvector_centrality(edges).withColumnRenamed(
        "centrality", "eig")
    exact = deg.count() <= max_betweenness_nodes
    btw_df = betweenness_centrality(
        edges, k_sources=None if exact else btw_k_sources)

    joined = deg.join(eig, "node", "left").join(btw_df, "node", "left") \
        .na.fill({"eig": 0.0, "btw": 0.0})
    maxes = F.broadcast(joined.agg(
        F.max("degree").alias("_md"),
        F.greatest(F.max("btw"), F.lit(1e-12)).alias("_mb"),
        F.greatest(F.max("eig"), F.lit(1e-12)).alias("_me"),
    ))
    imp = (
        0.5 * (F.col("degree") / F.col("_md"))
        + 0.3 * (F.col("btw") / F.col("_mb"))
        + 0.2 * (F.col("eig") / F.col("_me"))
    )
    return (
        joined.crossJoin(maxes)
        .withColumn("importance", F.round(imp, 6))
        .withColumn("size", F.round(10 + 20 * imp, 4))
        .select("node", "degree", "importance", "size")
    )
