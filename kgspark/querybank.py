"""Driver-contract query bank: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable with, where SQL-expressible, an
exactly-equivalent DuckDB oracle query (same column names, same values).

Three families:

* ``kg_*``   — the KG operator semantics (SURVEY §2.4-2.6) run over a
  triples relation derived RELATIONALLY from the TPC-H-ish tables
  (kgspark.pipeline.relational), so DuckDB can replay the full derivation
  → exact value-hash verification of standardization, inference, dedup,
  connected components and every analytics operator.
* ``doc_* / dedup_* / emb_* / mm_* / ev_*`` — training-data-pipeline
  operators over the documents/embeddings/events tables.
* ``pipe_*`` — the kernel path (html → chunk → extract → phases 2-3) over
  the deterministic synthetic pages corpus (kgspark.datagen); not
  SQL-replayable (Python kernels) → rows-only driver check, with deep
  semantics covered by the pytest oracle suite instead.

Conventions: every computed column is explicitly aliased identically in
both engines; counts cast to BIGINT; floats rounded before ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kgspark.ops import dedupe, events as ev_ops, multimodal, similarity, textstats
from kgspark.pipeline import analytics, inference, linking, relational, standardize
from kgspark.pipeline.graph import connected_components

# --------------------------------------------------------------------------
# shared SQL fragments
# --------------------------------------------------------------------------

# all five relational triple families combined (exact mirror of
# relational.geo_triples + supply_triples + event_triples + part_entities)
ALL_TRIPLES_SQL = f"""
    SELECT * FROM ({relational.GEO_TRIPLES_SQL})
    UNION ALL {relational.SUPPLY_TRIPLES_SQL}
    UNION ALL {relational.EVENT_TRIPLES_SQL}
    UNION ALL {relational.PART_ENTITIES_SQL}
"""

_NORM_STOPS = "'the','a','an','of','and','or','in','on','at','to','for','with','by','as'"
_PRED_STOPS = "'a','an','the','of','with','by','to','from','in','on','for'"

# inline predicate-length limit (doc_kg.limit_predicate) over a column named
# ``pred`` — assumes a prior CTE provides ``pw`` = whitespace words of pred
_LIMIT_PRED_SQL = f"""
    CASE WHEN len(pw) <= 3 THEN pred
         WHEN lower(pw[3]) IN ({_PRED_STOPS}) THEN array_to_string(pw[1:2], ' ')
         ELSE array_to_string(pw[1:3], ' ') END
"""


def _all_triples(spark: SparkSession, sf: str) -> DataFrame:
    return (
        relational.geo_triples(spark, sf)
        .unionByName(relational.supply_triples(spark, sf))
        .unionByName(relational.event_triples(spark, sf))
        .unionByName(relational.part_entities(spark, sf))
    )


# --------------------------------------------------------------------------
# kg_* — analytics operators (A-1..A-13)
# --------------------------------------------------------------------------

def q_kg_basic_stats(spark, sf):
    return analytics.basic_stats(_all_triples(spark, sf)).select(
        F.col("total_triples").cast("long").alias("total_triples"),
        F.col("unique_subjects").cast("long").alias("unique_subjects"),
        F.col("unique_predicates").cast("long").alias("unique_predicates"),
        F.col("unique_objects").cast("long").alias("unique_objects"),
        F.col("unique_entities").cast("long").alias("unique_entities"),
    )


SQL_KG_BASIC_STATS = f"""
    WITH trip AS ({ALL_TRIPLES_SQL})
    SELECT count(*)::BIGINT AS total_triples,
           count(DISTINCT subject)::BIGINT AS unique_subjects,
           count(DISTINCT predicate)::BIGINT AS unique_predicates,
           count(DISTINCT object)::BIGINT AS unique_objects,
           (SELECT count(DISTINCT e) FROM (
               SELECT subject AS e FROM trip UNION ALL SELECT object FROM trip
           ))::BIGINT AS unique_entities
    FROM trip
"""


def q_kg_top_predicates(spark, sf):
    return analytics.top_predicates(_all_triples(spark, sf), k=20).select(
        "predicate", F.col("cnt").cast("long").alias("cnt"), "pct"
    )


SQL_KG_TOP_PREDICATES = f"""
    WITH trip AS ({ALL_TRIPLES_SQL}),
    c AS (SELECT predicate, count(*)::BIGINT AS cnt FROM trip GROUP BY predicate)
    SELECT predicate, cnt,
           round(cnt * 100.0 / (SELECT sum(cnt) FROM c), 4) AS pct
    FROM c ORDER BY cnt DESC, predicate LIMIT 20
"""


def q_kg_entity_frequency(spark, sf):
    return analytics.entity_frequency(_all_triples(spark, sf), k=20).select(
        "entity", F.col("mentions").cast("long").alias("mentions")
    )


SQL_KG_ENTITY_FREQUENCY = f"""
    WITH trip AS ({ALL_TRIPLES_SQL}),
    e AS (SELECT subject AS entity FROM trip UNION ALL SELECT object FROM trip)
    SELECT entity, count(*)::BIGINT AS mentions
    FROM e GROUP BY entity ORDER BY mentions DESC, entity LIMIT 20
"""


def q_kg_role_histograms(spark, sf):
    return analytics.role_histograms(_all_triples(spark, sf), k=10).select(
        "role", "entity", F.col("cnt").cast("long").alias("cnt"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_KG_ROLE_HISTOGRAMS = f"""
    WITH trip AS ({ALL_TRIPLES_SQL}),
    roles AS (
        SELECT 'subject' AS role, subject AS entity FROM trip
        UNION ALL SELECT 'object', object FROM trip),
    c AS (SELECT role, entity, count(*)::BIGINT AS cnt FROM roles GROUP BY role, entity)
    SELECT role, entity, cnt, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY role ORDER BY cnt DESC, entity)::BIGINT AS rank
        FROM c) WHERE rank <= 10
"""


def q_kg_pair_patterns(spark, sf):
    return analytics.pair_patterns(_all_triples(spark, sf), k=10).select(
        "kind", "a", "b", F.col("cnt").cast("long").alias("cnt"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_KG_PAIR_PATTERNS = f"""
    WITH trip AS ({ALL_TRIPLES_SQL}),
    pairs AS (
        SELECT 'sp' AS kind, subject AS a, predicate AS b FROM trip
        UNION ALL SELECT 'po', predicate, object FROM trip),
    c AS (SELECT kind, a, b, count(*)::BIGINT AS cnt FROM pairs GROUP BY kind, a, b)
    SELECT kind, a, b, cnt, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY kind ORDER BY cnt DESC, a, b)::BIGINT AS rank
        FROM c) WHERE rank <= 10
"""


def q_kg_graph_metrics(spark, sf):
    return analytics.graph_metrics(relational.geo_graph_triples(spark, sf)).select(
        F.col("nodes").cast("long").alias("nodes"),
        F.col("edges").cast("long").alias("edges"),
        "density",
    )


SQL_KG_GRAPH_METRICS = f"""
    WITH trip AS ({relational.GEO_GRAPH_TRIPLES_SQL}),
    e AS (SELECT DISTINCT subject, object FROM trip),
    n AS (SELECT DISTINCT x FROM (
        SELECT subject AS x FROM trip UNION ALL SELECT object FROM trip))
    SELECT (SELECT count(*) FROM n)::BIGINT AS nodes,
           (SELECT count(*) FROM e)::BIGINT AS edges,
           round((SELECT count(*) FROM e) /
                 ((SELECT count(*) FROM n) * ((SELECT count(*) FROM n) - 1.0)), 6
           ) AS density
"""


def q_kg_degree_centrality(spark, sf):
    return analytics.degree_centrality(relational.geo_graph_triples(spark, sf), k=10).select(
        "entity", F.col("degree").cast("long").alias("degree"), "centrality"
    )


SQL_KG_DEGREE_CENTRALITY = f"""
    WITH trip AS ({relational.GEO_GRAPH_TRIPLES_SQL}),
    und AS (
        SELECT DISTINCT a, b FROM (
            SELECT subject AS a, object AS b FROM trip
            UNION ALL SELECT object, subject FROM trip)),
    deg AS (SELECT a AS entity, count(*)::BIGINT AS degree FROM und GROUP BY a)
    SELECT entity, degree,
           round(degree / greatest((SELECT count(*) FROM deg) - 1.0, 1.0), 6) AS centrality
    FROM deg ORDER BY degree DESC, entity LIMIT 10
"""


def q_kg_chunk_distribution(spark, sf):
    li = relational.load(spark, sf, "lineitem")
    trip = li.select(
        F.col("l_orderkey").cast("string").alias("url"),
        (F.col("l_linenumber") % 3).cast("int").alias("chunk"),
        F.col("l_linenumber").cast("long").alias("seq"),
        F.lit("o").alias("subject"), F.lit("has").alias("predicate"),
        F.col("l_partkey").cast("string").alias("object"),
    )
    return analytics.chunk_distribution(trip).select(
        "avg_per_chunk",
        F.col("max_per_chunk").cast("long").alias("max_per_chunk"),
        F.col("min_per_chunk").cast("long").alias("min_per_chunk"),
        F.col("chunks").cast("long").alias("chunks"),
    )


SQL_KG_CHUNK_DISTRIBUTION = """
    WITH per AS (
        SELECT l_orderkey, l_linenumber % 3 AS chunk, count(*)::BIGINT AS cnt
        FROM lineitem GROUP BY l_orderkey, l_linenumber % 3)
    SELECT round(avg(cnt), 4) AS avg_per_chunk,
           max(cnt)::BIGINT AS max_per_chunk,
           min(cnt)::BIGINT AS min_per_chunk,
           count(*)::BIGINT AS chunks
    FROM per
"""

_THEMES = {
    "nations": ["NATION"],
    "asia": ["ASIA"],
    "supply_chain": ["supplies", "widget"],
    "users": ["user"],
}


def q_kg_topic_classification(spark, sf):
    out = analytics.topic_classification(_all_triples(spark, sf), _THEMES)
    return out.select(
        F.col("total").cast("long").alias("total"),
        *[F.col(t).cast("long").alias(t) for t in sorted(_THEMES)],
    )


def _theme_hit_sql(kws: list[str]) -> str:
    text = "subject || ' ' || predicate || ' ' || object"
    return " OR ".join(f"strpos({text}, '{kw}') > 0" for kw in kws)


SQL_KG_TOPIC_CLASSIFICATION = f"""
    WITH trip AS ({ALL_TRIPLES_SQL})
    SELECT count(*)::BIGINT AS total,
           {", ".join(
               f"sum(CASE WHEN {_theme_hit_sql(kws)} THEN 1 ELSE 0 END)::BIGINT AS {t}"
               for t, kws in sorted(_THEMES.items())
           )}
    FROM trip
"""


def q_kg_keyword_filter(spark, sf):
    out = analytics.keyword_filter(
        _all_triples(spark, sf),
        subject_kws=["nation_1", "supplier#0000000"],
        object_kws=["asia", "america", "widget"],
    )
    return out.select(
        "url", F.col("chunk").cast("long").alias("chunk"),
        F.col("seq").cast("long").alias("seq"), "subject", "predicate", "object",
    )


SQL_KG_KEYWORD_FILTER = f"""
    WITH trip AS ({ALL_TRIPLES_SQL})
    SELECT url, chunk::BIGINT AS chunk, seq::BIGINT AS seq,
           subject, predicate, object
    FROM trip
    WHERE (strpos(lower(subject), 'nation_1') > 0
           OR strpos(lower(subject), 'supplier#0000000') > 0)
      AND (strpos(lower(object), 'asia') > 0
           OR strpos(lower(object), 'america') > 0
           OR strpos(lower(object), 'widget') > 0)
"""

_EV_THEMES = {"clicks": ["click"], "views": ["view"], "errors": ["error"]}


def _event_period_triples(spark, sf):
    evd = relational.load(spark, sf, "events")
    trip = relational.event_triples(spark, sf)
    periods = evd.select(
        F.col("event_id").cast("long").alias("seq"),
        F.date_format("ts", "yyyy-MM-dd").alias("period"),
    )
    return trip.join(periods, "seq")


def q_kg_discourse_shift(spark, sf):
    out = analytics.discourse_shift(
        _event_period_triples(spark, sf), "period", _EV_THEMES, threshold=3.0
    )
    return out.select("period", "theme", "pct", "prev_pct", "delta", "shift_flag")


def _ev_stacked_sql() -> str:
    per_theme = ", ".join(
        f"sum(CASE WHEN {_theme_hit_sql(kws)} THEN 1 ELSE 0 END) AS _{t}"
        for t, kws in sorted(_EV_THEMES.items())
    )
    stack = " UNION ALL ".join(
        f"SELECT period, '{t}' AS theme, round(_{t} * 100.0 / total, 4) AS pct FROM per"
        for t in sorted(_EV_THEMES)
    )
    return f"""
    trip0 AS ({relational.EVENT_TRIPLES_SQL}),
    trip AS (
        SELECT trip0.*, strftime(e.ts, '%Y-%m-%d') AS period
        FROM trip0 JOIN events e ON trip0.seq = e.event_id),
    per AS (
        SELECT period, count(*) AS total, {per_theme}
        FROM trip GROUP BY period),
    stacked AS ({stack})
    """


SQL_KG_DISCOURSE_SHIFT = f"""
    WITH {_ev_stacked_sql()}
    SELECT period, theme, pct,
           lag(pct) OVER (PARTITION BY theme ORDER BY period) AS prev_pct,
           round(pct - lag(pct) OVER (PARTITION BY theme ORDER BY period), 4) AS delta,
           CASE WHEN abs(round(pct - lag(pct) OVER (PARTITION BY theme ORDER BY period), 4)) > 3.0
                THEN true ELSE false END AS shift_flag
    FROM stacked
"""

_TRACKED = ["click", "user 3"]


def q_kg_entity_tracking(spark, sf):
    out = analytics.entity_tracking(_event_period_triples(spark, sf), "period", _TRACKED)
    return out.select(
        "period", F.col("total").cast("long").alias("total"),
        *[F.col(e.replace(" ", "_")).cast("long").alias(e.replace(" ", "_"))
          for e in _TRACKED],
    )


SQL_KG_ENTITY_TRACKING = f"""
    WITH trip0 AS ({relational.EVENT_TRIPLES_SQL}),
    trip AS (
        SELECT trip0.*, strftime(e.ts, '%Y-%m-%d') AS period
        FROM trip0 JOIN events e ON trip0.seq = e.event_id)
    SELECT period, count(*)::BIGINT AS total,
           {", ".join(
               "sum(CASE WHEN strpos(lower(subject), '" + e + "') > 0"
               " OR strpos(lower(object), '" + e + "') > 0"
               " THEN 1 ELSE 0 END)::BIGINT AS " + e.replace(" ", "_")
               for e in _TRACKED
           )}
    FROM trip GROUP BY period
"""


def q_kg_community_inference(spark, sf):
    """O-21/O-22: deterministic community-inference stand-ins over the
    event graph (reference entity_standardization.py:458-662 with the
    LLM proposal replaced by the max-degree-representative /
    shared-word-pair rules — SURVEY §2.5)."""
    from kgspark.pipeline import community
    trip = relational.event_triples(spark, sf)
    out = community.community_inference(trip)
    return out.select(
        "url", "subject", "predicate", "object",
        F.col("chunk").cast("long").alias("chunk"), "seq", "inferred",
    )


SQL_KG_COMMUNITY_INFERENCE = f"""
    WITH RECURSIVE trip AS ({relational.EVENT_TRIPLES_SQL}),
    und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
        SELECT subject AS a, object AS b FROM trip
        UNION ALL SELECT object, subject FROM trip)),
    reach(node, r) AS (
        SELECT a, a FROM und
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.node),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
    top AS (SELECT component, sz,
                   row_number() OVER (ORDER BY sz DESC, component) AS rank
            FROM sizes),
    members AS (SELECT c.node, c.component, t.sz, t.rank
                FROM comp c JOIN top t ON c.component = t.component
                WHERE t.rank <= 5),
    deg AS (SELECT a AS node, count(*) AS degree FROM und GROUP BY a),
    repranked AS (
        SELECT m.component, m.rank, m.node,
               row_number() OVER (PARTITION BY m.component
                                  ORDER BY d.degree DESC, m.node) AS rn
        FROM members m JOIN deg d ON m.node = d.node),
    rep AS (SELECT rank, node AS r FROM repranked WHERE rn = 1),
    between_t AS (
        SELECT a.r AS subject, 'related to' AS predicate, b.r AS object
        FROM rep a JOIN rep b ON a.rank < b.rank WHERE a.r <> b.r),
    mem3 AS (SELECT * FROM members WHERE rank <= 3 AND sz >= 5),
    words AS (
        SELECT component, node, unnest(list_filter(
            string_split_regex(lower(node), '\\s+'), w -> w <> '')) AS w
        FROM mem3),
    cand AS (
        SELECT DISTINCT l.component AS c, l.node AS a, r.node AS b
        FROM words l JOIN words r
          ON l.component = r.component AND l.w = r.w AND l.node < r.node),
    connected AS (
        SELECT DISTINCT subject AS a, object AS b FROM trip
        UNION SELECT object, subject FROM trip),
    cand2 AS (
        SELECT c, a, b FROM cand
        WHERE NOT EXISTS (SELECT 1 FROM connected x
                          WHERE x.a = cand.a AND x.b = cand.b)),
    within_t AS (
        SELECT a AS subject, 'associated with' AS predicate, b AS object
        FROM (SELECT c, a, b,
                     row_number() OVER (PARTITION BY c ORDER BY a, b) AS rn
              FROM cand2)
        WHERE rn <= 10),
    all_t AS (SELECT * FROM between_t UNION ALL SELECT * FROM within_t)
    SELECT 'kg://community' AS url, subject, predicate, object,
           0::BIGINT AS chunk,
           row_number() OVER (ORDER BY predicate, subject, object)::BIGINT AS seq,
           true AS inferred
    FROM all_t
"""


def q_kg_period_top_central(spark, sf):
    """A-9 companion: per-period top-5 entities by normalized degree
    centrality (reference policy_comparative_analyzer.py:139-151 computes
    per-year top-10 centrality; same shape, grouped in one job)."""
    trip = _event_period_triples(spark, sf)
    und = trip.select("period", F.col("subject").alias("a"), F.col("object").alias("b")) \
        .union(trip.select("period", F.col("object").alias("a"),
                           F.col("subject").alias("b"))).distinct()
    deg = und.groupBy("period", F.col("a").alias("entity")).agg(
        F.count("*").alias("degree"))
    n = deg.groupBy("period").agg(
        F.greatest(F.count("*") - 1, F.lit(1)).alias("_nm1"))
    w = Window.partitionBy("period").orderBy(F.desc("degree"), "entity")
    return (
        deg.join(F.broadcast(n), "period")
        .withColumn("centrality", F.round(F.col("degree") / F.col("_nm1"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("period", "entity", F.col("degree").cast("long").alias("degree"),
                "centrality", F.col("rank").cast("long").alias("rank"))
    )


SQL_KG_PERIOD_TOP_CENTRAL = f"""
    WITH trip0 AS ({relational.EVENT_TRIPLES_SQL}),
    trip AS (
        SELECT trip0.*, strftime(e.ts, '%Y-%m-%d') AS period
        FROM trip0 JOIN events e ON trip0.seq = e.event_id),
    und AS (SELECT DISTINCT period, a, b FROM (
        SELECT period, subject AS a, object AS b FROM trip
        UNION ALL SELECT period, object, subject FROM trip)),
    deg AS (SELECT period, a AS entity, count(*) AS degree
            FROM und GROUP BY period, a),
    n AS (SELECT period, greatest(count(*) - 1, 1) AS nm1
          FROM deg GROUP BY period)
    SELECT period, entity, degree::BIGINT AS degree,
           round(degree * 1.0 / nm1, 6) AS centrality, rank::BIGINT AS rank
    FROM (SELECT d.period, d.entity, d.degree, n.nm1,
                 row_number() OVER (PARTITION BY d.period
                                    ORDER BY d.degree DESC, d.entity) AS rank
          FROM deg d JOIN n ON d.period = n.period)
    WHERE rank <= 5
"""


# unroll depth of the SQL oracle's BFS.  Spark's Brandes runs to the end
# of each period graph; the per-period event graphs are entity-variant
# stars of diameter 4 at every sf (structure is scale-invariant), so 8
# levels carry margin.  A period graph deeper than this makes the oracle
# truncate while Spark stays exact: a mismatch, never a wrong result that
# still matches
_BTW_DEPTH = 8


def q_kg_period_betweenness(spark, sf):
    """A-9 completion: per-period top-5 entities by EXACT betweenness
    centrality (reference policy_comparative_analyzer.py:139-151 loops
    networkx betweenness per year; here all periods advance in ONE
    grouped all-sources distributed Brandes wave —
    graph.betweenness_centrality(group_col='period'))."""
    from kgspark.pipeline.graph import betweenness_centrality
    trip = _event_period_triples(spark, sf)
    edges = trip.select("period", F.col("subject").alias("src"),
                        F.col("object").alias("dst"))
    out = betweenness_centrality(edges, normalized=False, group_col="period")
    ranked = out.select("period", F.col("node").alias("entity"),
                        F.round("btw", 6).alias("btw"))
    w = Window.partitionBy("period").orderBy(F.desc("btw"), "entity")
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


def _period_betweenness_sql(depth: int) -> str:
    """Exact all-sources Brandes, unrolled level-by-level (forward BFS
    with per-level path counts, then backward dependency accumulation) —
    the same math the grouped Spark implementation runs, replayed as
    plain CTEs so DuckDB can verify it value-exactly."""
    ctes = [
        f"trip0 AS ({relational.EVENT_TRIPLES_SQL})",
        """trip AS (SELECT trip0.*, strftime(e.ts, '%Y-%m-%d') AS period
            FROM trip0 JOIN events e ON trip0.seq = e.event_id)""",
        """und AS MATERIALIZED (SELECT DISTINCT period AS g, a, b FROM (
            SELECT period, subject AS a, object AS b FROM trip
            UNION ALL SELECT period, object, subject FROM trip)
            WHERE a <> b)""",
        "nodes AS MATERIALIZED (SELECT DISTINCT g, a AS node FROM und)",
        "f0 AS MATERIALIZED (SELECT g, node AS s, node, 1.0 AS sigma FROM nodes)",
        "v0 AS MATERIALIZED (SELECT g, s, node FROM f0)",
    ]
    for k in range(1, depth + 1):
        # frontier k = neighbors of frontier k-1, path counts summed over
        # predecessors, minus everything already visited
        ctes.append(f"""c{k} AS (
            SELECT f.g, f.s, u.b AS node, sum(f.sigma) AS sigma
            FROM f{k - 1} f JOIN und u ON f.g = u.g AND f.node = u.a
            GROUP BY f.g, f.s, u.b)""")
        ctes.append(f"""f{k} AS MATERIALIZED (
            SELECT c.g, c.s, c.node, c.sigma FROM c{k} c
            ANTI JOIN v{k - 1} v USING (g, s, node))""")
        ctes.append(f"""v{k} AS MATERIALIZED (
            SELECT g, s, node FROM v{k - 1}
            UNION ALL SELECT g, s, node FROM f{k})""")
    # backward: delta(v at level k) = Σ over BFS-tree edges (v, w at
    # level k+1) of sigma_v/sigma_w · (1 + delta_w)
    ctes.append(
        f"d{depth} AS (SELECT g, s, node, sigma, 0.0 AS delta FROM f{depth})")
    for k in range(depth - 1, 0, -1):
        ctes.append(f"""d{k} AS MATERIALIZED (
            SELECT f.g, f.s, f.node, f.sigma,
                   coalesce(sum(f.sigma / w.sigma * (1.0 + w.delta)), 0.0)
                     AS delta
            FROM f{k} f
            LEFT JOIN und u ON u.g = f.g AND u.a = f.node
            LEFT JOIN d{k + 1} w ON w.g = u.g AND w.s = f.s AND w.node = u.b
            GROUP BY f.g, f.s, f.node, f.sigma)""")
    alld = " UNION ALL ".join(
        f"SELECT g, node, delta FROM d{k}" for k in range(1, depth + 1))
    return (
        "WITH " + ",\n    ".join(ctes)
        + f""",
    alld AS ({alld}),
    bc AS (SELECT g, node, sum(delta) / 2 AS btw FROM alld GROUP BY g, node),
    fin AS (
        SELECT n.g AS period, n.node AS entity,
               round(coalesce(b.btw, 0.0), 6) AS btw
        FROM nodes n LEFT JOIN bc b ON n.g = b.g AND n.node = b.node)
    SELECT period, entity, btw, rank::BIGINT AS rank
    FROM (SELECT period, entity, btw,
                 row_number() OVER (PARTITION BY period
                                    ORDER BY btw DESC, entity) AS rank
          FROM fin)
    WHERE rank <= 5"""
    )


SQL_KG_PERIOD_BETWEENNESS = _period_betweenness_sql(_BTW_DEPTH)


def q_kg_period_summary(spark, sf):
    """A-14: cross-period summary — per-period triple/entity/predicate
    counts plus share of the corpus total (reference
    policy_kg_batch_generator.py:261-285 cross-year report)."""
    trip = _event_period_triples(spark, sf)
    per = trip.groupBy("period").agg(
        F.count("*").cast("long").alias("triples"),
        F.countDistinct("subject").cast("long").alias("subjects"),
        F.countDistinct("object").cast("long").alias("objects"),
        F.countDistinct("predicate").cast("long").alias("predicates"),
    )
    total = F.broadcast(per.agg(F.sum("triples").alias("_total")))
    return (
        per.crossJoin(total)
        .withColumn("pct", F.round(F.col("triples") * 100.0 / F.col("_total"), 4))
        .drop("_total")
        .orderBy("period")
    )


SQL_KG_PERIOD_SUMMARY = f"""
    WITH trip0 AS ({relational.EVENT_TRIPLES_SQL}),
    trip AS (
        SELECT trip0.*, strftime(e.ts, '%Y-%m-%d') AS period
        FROM trip0 JOIN events e ON trip0.seq = e.event_id),
    per AS (
        SELECT period, count(*)::BIGINT AS triples,
               count(DISTINCT subject)::BIGINT AS subjects,
               count(DISTINCT object)::BIGINT AS objects,
               count(DISTINCT predicate)::BIGINT AS predicates
        FROM trip GROUP BY period)
    SELECT period, triples, subjects, objects, predicates,
           round(triples * 100.0 / (SELECT sum(triples) FROM per), 4) AS pct
    FROM per
"""


def q_kg_period_graph_metrics(spark, sf):
    """A-9 proper: per-period network metrics (nodes, edges, density,
    avg clustering, #components) — reference
    policy_comparative_analyzer.py:108-156 per-year loop, restated as a
    single grouped job (group key rides the triangle/CC machinery)."""
    out = analytics.period_graph_metrics(_event_period_triples(spark, sf), "period")
    return out.select(
        "period",
        F.col("nodes").cast("long").alias("nodes"),
        F.col("edges").cast("long").alias("edges"),
        "density", "avg_clustering",
        F.col("components").cast("long").alias("components"),
    ).orderBy("period")


SQL_KG_PERIOD_GRAPH_METRICS = f"""
    WITH RECURSIVE trip0 AS ({relational.EVENT_TRIPLES_SQL}),
    trip AS (
        SELECT trip0.*, strftime(e.ts, '%Y-%m-%d') AS period
        FROM trip0 JOIN events e ON trip0.seq = e.event_id),
    e AS MATERIALIZED (
        SELECT DISTINCT period, subject AS src, object AS dst
        FROM trip WHERE subject <> object),
    und AS MATERIALIZED (SELECT DISTINCT period, a, b FROM (
        SELECT period, src AS a, dst AS b FROM e
        UNION ALL SELECT period, dst, src FROM e)),
    pairs AS MATERIALIZED (
        SELECT DISTINCT period, least(a, b) AS a, greatest(a, b) AS b FROM und),
    ncnt AS (SELECT period, count(DISTINCT a) AS nodes FROM und GROUP BY period),
    ecnt AS (SELECT period, count(*) AS edges FROM pairs GROUP BY period),
    tri AS (
        SELECT e1.period, e1.a AS x, e1.b AS y, e2.b AS z
        FROM pairs e1
        JOIN pairs e2 ON e1.period = e2.period AND e1.b = e2.a
        JOIN pairs e3 ON e3.period = e1.period AND e3.a = e1.a AND e3.b = e2.b),
    corners AS (
        SELECT period, x AS node FROM tri
        UNION ALL SELECT period, y FROM tri
        UNION ALL SELECT period, z FROM tri),
    tcnt AS (SELECT period, node, count(*) AS triangles
             FROM corners GROUP BY period, node),
    deg AS (SELECT period, a AS node, count(*) AS degree FROM und GROUP BY period, a),
    clus AS (
        SELECT d.period,
               avg(CASE WHEN d.degree >= 2
                   THEN 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
                   ELSE 0.0 END) AS avg_clustering
        FROM deg d LEFT JOIN tcnt t ON d.period = t.period AND d.node = t.node
        GROUP BY d.period),
    reach(period, node, r) AS (
        SELECT period, a, a FROM und
        UNION
        SELECT u.period, u.a, reach.r
        FROM und u JOIN reach ON u.period = reach.period AND u.b = reach.node),
    comp AS (SELECT period, node, min(r) AS component
             FROM reach GROUP BY period, node),
    ccnt AS (SELECT period, count(DISTINCT component) AS components
             FROM comp GROUP BY period)
    SELECT n.period, n.nodes::BIGINT AS nodes, ec.edges::BIGINT AS edges,
           CASE WHEN n.nodes >= 2
                THEN round(2.0 * ec.edges / (n.nodes * (n.nodes - 1)), 6)
                ELSE 0.0 END AS density,
           round(c.avg_clustering, 6) AS avg_clustering,
           cc.components::BIGINT AS components
    FROM ncnt n
    JOIN ecnt ec ON n.period = ec.period
    JOIN clus c ON n.period = c.period
    JOIN ccnt cc ON n.period = cc.period
"""


# --------------------------------------------------------------------------
# kg_* — phase 2/3 operator semantics (O-10..O-25) with exact SQL replays
# --------------------------------------------------------------------------

def q_kg_standardize_map(spark, sf):
    """O-11..O-15: the (variant -> standard) entity map over styled event
    variants (case / stopword / plural / compound planted by
    relational.event_triples)."""
    return standardize.build_entity_map(relational.event_triples(spark, sf)).select(
        "url", "variant", "std"
    )


# exact replay of standardize.build_entity_map: blocking-normalize ->
# per-block canonical pick (-count, len, lex) -> second-pass subset/stem
# merge with last-write-wins in (i, j) scan order -> one-hop application
_STD_MAP_CTES = f"""
    trip AS ({relational.EVENT_TRIPLES_SQL}),
    ents AS (
        SELECT url, entity, count(*) AS cnt FROM (
            SELECT url, lower(subject) AS entity FROM trip
            UNION ALL SELECT url, lower(object) FROM trip)
        GROUP BY url, entity),
    blocked AS (
        SELECT url, entity, cnt,
            array_to_string(list_filter(
                regexp_extract_all(lower(entity), '\\w+'),
                t -> t NOT IN ({_NORM_STOPS})), ' ') AS norm
        FROM ents),
    blocked2 AS (SELECT * FROM blocked WHERE norm <> ''),
    picked AS (
        SELECT url, norm, entity AS std1 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY url, norm
                ORDER BY cnt DESC, length(entity), entity) AS rn
            FROM blocked2) WHERE rn = 1),
    map1 AS (
        SELECT b.url, b.entity AS variant, p.std1
        FROM blocked2 b JOIN picked p ON b.url = p.url AND b.norm = p.norm),
    forms AS (SELECT DISTINCT url, std1 AS form FROM map1),
    ranked AS (
        SELECT url, form,
            row_number() OVER (PARTITION BY url ORDER BY length(form), form) AS idx,
            list_distinct(list_filter(
                string_split_regex(form, '\\s+'), w -> w <> '')) AS ws
        FROM forms),
    ranked2 AS (
        SELECT *, list_distinct(list_transform(
            list_filter(ws, w -> length(w) > 4), w -> substr(w, 1, 4))) AS ss
        FROM ranked),
    pairs AS (
        SELECT a.url, a.form AS e1, a.idx AS i, a.ws AS w1, a.ss AS s1,
               b.form AS e2, b.idx AS j, b.ws AS w2, b.ss AS s2
        FROM ranked2 a JOIN ranked2 b ON a.url = b.url AND a.idx < b.idx),
    resolved AS (
        SELECT url, i, j,
            CASE WHEN len(w1) > 0 AND list_has_all(w2, w1) THEN e2
                 WHEN len(w2) > 0 AND list_has_all(w1, w2) THEN e1
                 WHEN len(list_intersect(s1, s2)) > 0
                      AND len(list_intersect(s1, s2)) * 1.0
                          / nullif(greatest(len(s1), len(s2)), 0) > 0.5 THEN e2
            END AS target,
            CASE WHEN len(w1) > 0 AND list_has_all(w2, w1) THEN e1
                 WHEN len(w2) > 0 AND list_has_all(w1, w2) THEN e2
                 WHEN len(list_intersect(s1, s2)) > 0
                      AND len(list_intersect(s1, s2)) * 1.0
                          / nullif(greatest(len(s1), len(s2)), 0) > 0.5 THEN e1
            END AS std2
        FROM pairs),
    extra AS (
        SELECT url, target, arg_max(std2, i * 1000000 + j) AS std2
        FROM resolved WHERE target IS NOT NULL GROUP BY url, target),
    std_map AS (
        SELECT m.url, m.variant, coalesce(e.std2, m.std1) AS std
        FROM map1 m
        LEFT JOIN extra e ON m.url = e.url AND m.variant = e.target)
"""

SQL_KG_STANDARDIZE_MAP = f"""
    WITH {_STD_MAP_CTES}
    SELECT url, variant, std FROM std_map
"""


def q_kg_standardized_triples(spark, sf):
    """O-16/O-10/O-18: phase-2 output triples (map applied, predicate
    limited, self-loops dropped, chunk defaulted)."""
    return standardize.standardize(relational.event_triples(spark, sf)).select(
        "url", F.col("seq").cast("long").alias("seq"), "subject", "predicate",
        "object", F.col("chunk").cast("long").alias("chunk"),
    )


SQL_KG_STANDARDIZED_TRIPLES = f"""
    WITH {_STD_MAP_CTES}
    SELECT t.url, t.seq::BIGINT AS seq,
           coalesce(ms.std, t.subject) AS subject,
           t.predicate AS predicate,
           coalesce(mo.std, t.object) AS object,
           t.chunk::BIGINT AS chunk
    FROM trip t
    LEFT JOIN std_map ms ON t.url = ms.url AND lower(t.subject) = ms.variant
    LEFT JOIN std_map mo ON t.url = mo.url AND lower(t.object) = mo.variant
    WHERE coalesce(ms.std, t.subject) <> coalesce(mo.std, t.object)
"""


def q_kg_transitive_inference(spark, sf):
    """O-23 over the customer->nation->region chain graph."""
    return inference.transitive_inference(
        relational.geo_graph_triples(spark, sf)
    ).select("url", "subject", "predicate", "object")


SQL_KG_TRANSITIVE = f"""
    WITH trip AS ({relational.GEO_GRAPH_TRIPLES_SQL}),
    edges AS (
        SELECT url, subject, object, arg_max(predicate, seq) AS pred
        FROM trip GROUP BY url, subject, object),
    paths AS (
        SELECT a.url, a.subject AS A, a.object AS B, a.pred AS p1,
               b.object AS C, b.pred AS p2
        FROM edges a JOIN edges b
          ON a.url = b.url AND a.object = b.subject AND a.subject <> b.object),
    new_paths AS (
        SELECT p.* FROM paths p
        ANTI JOIN edges e ON p.url = e.url AND p.A = e.subject AND p.C = e.object),
    preds AS (
        SELECT url, A, C,
            CASE WHEN p1 = p2 THEN 'indirectly ' || p1
                 ELSE p1 || ' via ' || B END AS pred
        FROM new_paths),
    limited AS (
        SELECT url, A, C, pred,
            list_filter(string_split_regex(pred, '\\s+'), w -> w <> '') AS pw
        FROM preds)
    SELECT DISTINCT url, A AS subject, {_LIMIT_PRED_SQL} AS predicate, C AS object
    FROM limited
"""


def q_kg_lexical_inference(spark, sf):
    """O-24 over the part-name entity sample (shared-word + containment)."""
    return inference.lexical_inference(relational.part_entities(spark, sf)).select(
        "url", "subject", "predicate", "object"
    )


def _lexical_sql(triples_sql: str) -> str:
    """O-24 replay: pair enumeration (e1 < e2), skip connected, shared-word
    pick = longest-then-smallest, three-branch emission (reference
    entity_standardization.py:664-755; Spark twin
    kgspark.pipeline.inference.lexical_inference)."""
    return f"""
    WITH trip AS ({triples_sql}),
    ents AS (
        SELECT DISTINCT url, entity FROM (
            SELECT url, subject AS entity FROM trip
            UNION ALL SELECT url, object FROM trip)),
    pairs0 AS (
        SELECT a.url, a.entity AS e1, b.entity AS e2
        FROM ents a JOIN ents b ON a.url = b.url AND a.entity < b.entity),
    edges AS (SELECT DISTINCT url, subject AS s, object AS o FROM trip),
    pairs1 AS (
        SELECT p.* FROM pairs0 p
        ANTI JOIN edges e ON p.url = e.url AND p.e1 = e.s AND p.e2 = e.o),
    pairs AS (
        SELECT p.* FROM pairs1 p
        ANTI JOIN edges e ON p.url = e.url AND p.e2 = e.s AND p.e1 = e.o),
    wsets AS (
        SELECT url, e1, e2, lower(e1) AS l1, lower(e2) AS l2,
            list_distinct(list_filter(
                string_split_regex(lower(e1), '\\s+'), w -> w <> '')) AS w1,
            list_distinct(list_filter(
                string_split_regex(lower(e2), '\\s+'), w -> w <> '')) AS w2
        FROM pairs),
    shared AS (
        SELECT url, e1, e2, l1, l2,
            len(list_intersect(w1, w2)) > 0 AS has_shared,
            coalesce((
                SELECT w FROM (
                    SELECT unnest(list_intersect(w1, w2)) AS w)
                ORDER BY length(w) DESC, w ASC LIMIT 1), '') AS main
        FROM wsets),
    emitted AS (
        SELECT url,
            CASE
              WHEN has_shared THEN
                CASE WHEN length(main) >= 4 THEN
                    CASE WHEN starts_with(l1, main) AND NOT starts_with(l2, main)
                           THEN struct_pack(s := e2, p := 'relates to', o := e1)
                         WHEN starts_with(l2, main) AND NOT starts_with(l1, main)
                           THEN struct_pack(s := e1, p := 'relates to', o := e2)
                         ELSE struct_pack(s := e1, p := 'related to', o := e2)
                    END
                END
              WHEN strpos(l2, l1) > 0
                THEN struct_pack(s := e2, p := 'is type of', o := e1)
              WHEN strpos(l1, l2) > 0
                THEN struct_pack(s := e1, p := 'is type of', o := e2)
            END AS t
        FROM shared)
    SELECT url, t.s AS subject, t.p AS predicate, t.o AS object
    FROM emitted WHERE t IS NOT NULL
    """


SQL_KG_LEXICAL = _lexical_sql(relational.PART_ENTITIES_SQL)


def q_kg_dedup_triples(spark, sf):
    """O-25 dedup precedence over constructed duplicate (s,p,o) rows with
    mixed inferred flags (originals beat inferred; last original's payload
    wins)."""
    li = relational.load(spark, sf, "lineitem")
    supplier = relational.load(spark, sf, "supplier")
    part = relational.load(spark, sf, "part")
    trip = (
        li.join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            F.lit("rel://dup").alias("url"),
            F.col("s_name").alias("subject"),
            F.lit("supplies").alias("predicate"),
            F.col("p_name").alias("object"),
            F.col("l_linenumber").cast("int").alias("chunk"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("seq"),
            (F.col("l_returnflag") == "R").alias("inferred"),
        )
    )
    return inference.dedup_triples(trip).select(
        "url", "subject", "predicate", "object", "inferred",
        F.col("chunk").cast("long").alias("chunk"),
        F.col("seq").cast("long").alias("seq"),
    )


SQL_KG_DEDUP = """
    WITH trip AS (
        SELECT 'rel://dup' AS url, s_name AS subject, 'supplies' AS predicate,
               p_name AS object, l_linenumber AS chunk,
               l_orderkey * 10 + l_linenumber AS seq,
               l_returnflag = 'R' AS inferred
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN part ON l_partkey = p_partkey)
    SELECT url, subject, predicate, object,
           bool_and(inferred) AS inferred,
           (arg_max(chunk, seq) FILTER (WHERE NOT inferred))::BIGINT AS chunk,
           min(seq)::BIGINT AS seq
    FROM trip GROUP BY url, subject, predicate, object
"""


def q_kg_connected_components(spark, sf):
    """O-20: both CC paths in one driver query — min-label propagation
    and the incremental fold (labels from ~80% of the edges; the
    remaining ~20% folded in as a "new batch" by
    ``incremental_connected_components``, which reruns min-label CC
    over the prior labels' star edges plus the batch) — each tagged by
    ``algo`` and checked against the same recursive-CTE reachability
    oracle, so the driver verifies that both agree exactly.
    The incremental branch's oracle needs no split replay: its
    contract is labels identical to the full recompute regardless of
    how the edge set is split.  Folded registrations keep every
    exact-oracle query inside the driver's 50-query budget."""
    from kgspark.pipeline.graph import incremental_connected_components
    edges = relational.geo_graph_triples(spark, sf).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    minlabel = connected_components(edges).select(
        F.lit("minlabel").alias("algo"), "node", "component")
    is_new = F.pmod(F.xxhash64("src", "dst"), F.lit(5)) == 0
    old_e, new_e = edges.filter(~is_new), edges.filter(is_new)
    prev = connected_components(old_e)
    incr = incremental_connected_components(prev, new_e).select(
        F.lit("incremental").alias("algo"), "node", "component")
    return minlabel.unionByName(incr)


SQL_KG_CC = f"""
    WITH RECURSIVE trip AS ({relational.GEO_GRAPH_TRIPLES_SQL}),
    und AS (
        SELECT DISTINCT a, b FROM (
            SELECT subject AS a, object AS b FROM trip
            UNION ALL SELECT object, subject FROM trip)),
    reach(node, r) AS (
        SELECT a, a FROM und
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.node),
    cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT 'minlabel' AS algo, node, component FROM cc
    UNION ALL
    SELECT 'incremental' AS algo, node, component FROM cc
"""


def q_kg_infer_full(spark, sf):
    """Full phase 3 (transitive + lexical + dedup + limits) over the
    supplier->nation->region graph."""
    trip = relational.geo_triples(spark, sf).filter(
        F.col("url").isin("rel://supplier", "rel://nation")
    ).withColumn("url", F.lit("rel://sn"))
    return inference.infer(trip).select(
        "url", "subject", "predicate", "object", "inferred",
        F.col("chunk").cast("long").alias("chunk"),
        F.col("seq").cast("long").alias("seq"),
    )


_SN_TRIPLES_SQL = """
    SELECT 'rel://sn' AS url, 1 AS chunk, s_suppkey AS seq,
           s_name AS subject, 'located in' AS predicate, n_name AS object
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    UNION ALL
    SELECT 'rel://sn', 1, n_nationkey, n_name, 'is part of', r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
"""

SQL_KG_INFER_FULL = f"""
    WITH originals AS (
        SELECT url, subject, predicate, object, chunk, seq, false AS inferred
        FROM ({_SN_TRIPLES_SQL})),
    edges AS (
        SELECT url, subject, object, arg_max(predicate, seq) AS pred
        FROM originals GROUP BY url, subject, object),
    paths AS (
        SELECT a.url, a.subject AS A, a.object AS B, a.pred AS p1,
               b.object AS C, b.pred AS p2
        FROM edges a JOIN edges b
          ON a.url = b.url AND a.object = b.subject AND a.subject <> b.object),
    new_paths AS (
        SELECT p.* FROM paths p
        ANTI JOIN edges e ON p.url = e.url AND p.A = e.subject AND p.C = e.object),
    tpred AS (
        SELECT url, A, C,
            CASE WHEN p1 = p2 THEN 'indirectly ' || p1
                 ELSE p1 || ' via ' || B END AS pred
        FROM new_paths),
    tlim AS (
        SELECT url, A, C, pred,
            list_filter(string_split_regex(pred, '\\s+'), w -> w <> '') AS pw
        FROM tpred),
    trans AS (
        SELECT DISTINCT url, A AS subject, {_LIMIT_PRED_SQL} AS predicate,
               C AS object
        FROM tlim),
    lex AS ({_lexical_sql(_SN_TRIPLES_SQL)}),
    unioned AS (
        SELECT url, subject, predicate, object, chunk, seq, inferred FROM originals
        UNION ALL
        SELECT url, subject, predicate, object, NULL, NULL, true FROM trans
        UNION ALL
        SELECT url, subject, predicate, object, NULL, NULL, true FROM lex),
    deduped AS (
        SELECT url, subject, predicate, object,
               bool_and(inferred) AS inferred,
               arg_max(chunk, seq) FILTER (WHERE NOT inferred) AS chunk,
               min(seq) AS seq
        FROM unioned GROUP BY url, subject, predicate, object)
    -- final predicate limit is an identity here (every emitted predicate is
    -- already <= 3 words); self-loop filter:
    SELECT url, subject, predicate, object, inferred,
           chunk::BIGINT AS chunk, seq::BIGINT AS seq
    FROM deduped WHERE subject <> object
"""


# --------------------------------------------------------------------------
# doc_* — kernel + text-analysis operators over the documents table
# --------------------------------------------------------------------------

def _docs_as_pages(spark, sf, text_col=None):
    from kgspark.pipeline import chunking  # noqa: F401 (used by callers)
    d = relational.load(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("url"),
        (text_col if text_col is not None else F.col("text")).alias("text"),
    )


def q_doc_chunk_oversize(spark, sf):
    """Chunker over raw documents (single unterminated sentence per doc →
    the oversize-standalone branch): one chunk, byte-identical to text."""
    from kgspark.pipeline import chunking
    chunks = chunking.chunk_pages(_docs_as_pages(spark, sf), chunk_size=10, overlap=2)
    return chunks.select(
        "url", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


SQL_DOC_CHUNK_OVERSIZE = """
    SELECT CAST(doc_id AS VARCHAR) AS url, 1::BIGINT AS chunk_id,
           md5(text) AS chunk_md5
    FROM documents
"""


def q_doc_chunk_overlap(spark, sf):
    """Chunker accumulate+carry semantics: rewrite each doc into 5-word
    sentences ('!'-terminated, truncated to a multiple of 5 words), chunk
    at max_length=10 → closed-form sliding-window chunks the SQL oracle
    reproduces (flush at 3rd sentence, two-sentence carry)."""
    from kgspark.pipeline import chunking
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    kfive = (F.size(words) / 5).cast("int") * 5
    text2 = F.array_join(
        F.transform(
            F.slice(words, 1, kfive),
            lambda w, i: F.when((i + 1) % 5 == 0, F.concat(w, F.lit("!"))).otherwise(w),
        ),
        " ",
    )
    pages = _docs_as_pages(spark, sf, text_col=text2).filter(F.col("text") != "")
    chunks = chunking.chunk_pages(pages, chunk_size=10, overlap=2)
    return chunks.select(
        "url", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


SQL_DOC_CHUNK_OVERLAP = """
    WITH base AS (
        SELECT CAST(doc_id AS VARCHAR) AS url,
               list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words
        FROM documents),
    k AS (SELECT url, words, len(words) // 5 AS K FROM base WHERE len(words) >= 5),
    sent AS (
        SELECT url, K, i,
               array_to_string(words[(5*i-4):(5*i)], ' ') || '!' AS s
        FROM k, unnest(generate_series(1, K)) AS t(i)),
    sl AS (SELECT url, K, list(s ORDER BY i) AS ss FROM sent GROUP BY url, K),
    chunks AS (
        SELECT url, 1 AS chunk_id,
               CASE WHEN K = 1 THEN ss[1] ELSE ss[1] || ' ' || ss[2] END AS chunk_text
        FROM sl
        UNION ALL
        SELECT url, j, ss[j-1] || ' ' || ss[j] || ' ' || ss[j+1]
        FROM sl, unnest(generate_series(2, K-1)) AS t(j)
        WHERE K >= 3)
    SELECT url, chunk_id::BIGINT AS chunk_id, md5(chunk_text) AS chunk_md5
    FROM chunks
"""


def q_doc_langid(spark, sf):
    d = relational.load(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.langid_expr(F.col("text")).alias("lang_pred"),
        (textstats.langid_expr(F.col("text")) == F.col("lang")).alias("label_match"),
    )


def _lex_sql(lang: str) -> str:
    lex = ",".join(f"'{w}'" for w in textstats.LANG_LEXICONS[lang])
    return f"len(list_intersect(dws, [{lex}]))"


SQL_DOC_LANGID = f"""
    WITH w AS (
        SELECT doc_id, lang, text,
            list_distinct(list_filter(
                string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS dws
        FROM documents),
    h AS (
        SELECT doc_id, lang,
            {_lex_sql('en')} AS h_en, {_lex_sql('fr')} AS h_fr,
            {_lex_sql('es')} AS h_es, {_lex_sql('de')} AS h_de,
            (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))
              * 1.0 / greatest(length(text), 1) AS cjk_ratio
        FROM w),
    p AS (
        SELECT doc_id, lang,
            CASE WHEN cjk_ratio > 0.05 THEN 'zh'
                 WHEN h_en >= greatest(h_fr, h_es, h_de) THEN 'en'
                 WHEN h_fr >= greatest(h_es, h_de) THEN 'fr'
                 WHEN h_es >= h_de THEN 'es'
                 ELSE 'de' END AS lang_pred
        FROM h)
    SELECT doc_id::BIGINT AS doc_id, lang_pred, lang_pred = lang AS label_match
    FROM p
"""


def q_doc_quality(spark, sf):
    d = relational.load(spark, sf, "documents")
    out = textstats.quality_features(d.select("doc_id", "text"), "text")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("q_chars").cast("long").alias("q_chars"),
        F.col("q_words").cast("long").alias("q_words"),
        "q_avg_word_len", "q_stopword_ratio", "q_punct_ratio",
        "q_uniq_ratio", "q_score",
    )


_EN_STOPS_SQL = ",".join(f"'{w}'" for w in textstats.EN_STOPWORDS)

SQL_DOC_QUALITY = f"""
    WITH w AS (
        SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
        FROM documents),
    f AS (
        SELECT doc_id,
            length(text) AS n_chars, len(ws) AS n_words,
            round((length(text) - (len(ws) - 1)) * 1.0 / greatest(len(ws), 1), 4)
              AS avg_wl,
            round(len(list_filter(ws, x -> x IN ({_EN_STOPS_SQL})))
              * 1.0 / greatest(len(ws), 1), 4) AS stop_ratio,
            round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
              * 1.0 / greatest(length(text), 1), 4) AS punct_ratio,
            round(len(list_distinct(ws)) * 1.0 / greatest(len(ws), 1), 4) AS uniq_ratio
        FROM w)
    SELECT doc_id::BIGINT AS doc_id,
           n_chars::BIGINT AS q_chars, n_words::BIGINT AS q_words,
           avg_wl AS q_avg_word_len, stop_ratio AS q_stopword_ratio,
           punct_ratio AS q_punct_ratio, uniq_ratio AS q_uniq_ratio,
           round(0.25 * (CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 1.0 ELSE 0.0 END)
               + 0.25 * (CASE WHEN avg_wl >= 3 AND avg_wl <= 10 THEN 1.0 ELSE 0.0 END)
               + 0.25 * (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.0 END)
               + 0.25 * uniq_ratio, 6) AS q_score
    FROM f
"""


def q_doc_tokens(spark, sf):
    d = relational.load(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.ws_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        textstats.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


SQL_DOC_TOKENS = f"""
    SELECT doc_id::BIGINT AS doc_id,
        len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT
          AS ws_tokens,
        len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN}'))::BIGINT
          AS bpe_tokens
    FROM documents
"""


def q_doc_profile(spark, sf):
    """Folded per-document profile: language-ID + quality features +
    token counts in ONE row-wise pass (the former doc_langid /
    doc_quality / doc_tokens driver entries, merged to free driver-budget
    slots — all three are per-row expressions over the same text column,
    so one query covers the same operators with one table scan)."""
    d = relational.load(spark, sf, "documents")
    q = textstats.quality_features(d.select("doc_id", "text", "lang"), "text")
    return q.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.langid_expr(F.col("text")).alias("lang_pred"),
        (textstats.langid_expr(F.col("text")) == F.col("lang")).alias("label_match"),
        F.col("q_chars").cast("long").alias("q_chars"),
        F.col("q_words").cast("long").alias("q_words"),
        "q_avg_word_len", "q_stopword_ratio", "q_punct_ratio",
        "q_uniq_ratio", "q_score",
        textstats.ws_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        textstats.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        # round 5: the former doc_fingerprint driver entry folded in
        # (another per-row expression over the same text column) to free
        # a driver-budget slot for doc_gopher/dedup_pages
        textstats.fingerprint_expr(F.col("text"), n=8).alias("fingerprint"),
    )


def q_doc_fingerprint(spark, sf):
    d = relational.load(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.fingerprint_expr(F.col("text"), n=8).alias("fingerprint"),
    )


SQL_DOC_FINGERPRINT = """
    WITH w AS (
        SELECT doc_id,
            list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents)
    SELECT doc_id::BIGINT AS doc_id,
        (SELECT min(md5(array_to_string(words[i:i+7], ' ')))
         FROM unnest(generate_series(1, greatest(len(words) - 7, 1))) AS t(i))
          AS fingerprint
    FROM w
"""


SQL_DOC_PROFILE = f"""
    SELECT l.doc_id, l.lang_pred, l.label_match,
           q.q_chars, q.q_words, q.q_avg_word_len, q.q_stopword_ratio,
           q.q_punct_ratio, q.q_uniq_ratio, q.q_score,
           t.ws_tokens, t.bpe_tokens, fp.fingerprint
    FROM ({SQL_DOC_LANGID}) l
    JOIN ({SQL_DOC_QUALITY}) q ON l.doc_id = q.doc_id
    JOIN ({SQL_DOC_TOKENS}) t ON l.doc_id = t.doc_id
    JOIN ({SQL_DOC_FINGERPRINT}) fp ON l.doc_id = fp.doc_id
"""


def _docs_with_lines(spark, sf):
    """documents re-lined for the Gopher repetition signals: the corpus
    text has no newlines, so ' table ' becomes a line break and ' part '
    a paragraph break (blank line) — both frequent corpus words; every
    5th doc is then duplicated line-wise (text + NL + text), planting
    dup_line_frac ≈ 0.5 pages the caps must cull.  Both rewrites are
    plain leftmost non-overlapping string replaces, replayed literally
    in the oracle."""
    d = relational.load(spark, sf, "documents").select("doc_id", "text")
    lined = d.select(
        "doc_id",
        F.replace(F.replace(F.col("text"), F.lit(" table "), F.lit("\n")),
                  F.lit(" part "), F.lit("\n\n")).alias("_t0"))
    return lined.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat("_t0", F.lit("\n"), "_t0"))
        .otherwise(F.col("_t0")).alias("text"))


def q_doc_gopher(spark, sf):
    """Gopher/RefinedWeb repetition-quality gate (the production
    page-level quality filter, runner.build_triples → textstats
    .repetition_signals/gopher_keep): per-doc dup-line/para fractions,
    top-n-gram char coverage, and the keep flag under the production
    caps + 50-word exemption.  VERDICT r4 item 1: previously
    pytest-only.  The oracle replays the definitions in SQL
    (explode→group), independently of the per-document Arrow kernel."""
    from kgspark.ops.textstats import gopher_keep, repetition_signals
    docs = _docs_with_lines(spark, sf)
    sig = repetition_signals(docs, "doc_id", "text")
    return sig.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "top2_char_frac", "top3_char_frac", "top4_char_frac",
        gopher_keep(min_words=50).alias("keep"),
    )


def _gopher_sql() -> str:
    """DuckDB replay of repetition_signals + gopher_keep over the same
    re-lined corpus: per-token explode→group fractions, per-n argmax by
    (count, gram length, gram) — the kernel's tie-break — and the
    caps applied to the ROUNDED output values, exactly as gopher_keep
    sees them."""
    gram_ctes, gram_joins, gram_cols = [], [], []
    for n in (2, 3, 4):
        gram_ctes.append(f"""g{n} AS (
        SELECT doc_id, array_to_string(ws[i:i+{n - 1}], ' ') AS g
        FROM words, unnest(generate_series(1, len(ws) - {n - 1})) AS t(i)
        WHERE len(ws) >= {n}),
    gc{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY doc_id, g),
    gt{n} AS (
        SELECT doc_id, (c * length(g)) AS top{n}
        FROM (SELECT doc_id, g, c, row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY c DESC, length(g) DESC, g DESC) AS rn
              FROM gc{n})
        WHERE rn = 1)""")
        gram_joins.append(f"LEFT JOIN gt{n} USING (doc_id)")
        gram_cols.append(
            f"round(coalesce(top{n}, 0) * 1.0 / n, 6) AS top{n}_char_frac")
    gram_ctes_sql = ",\n    ".join(gram_ctes)
    gram_cols_sql = ",\n               ".join(gram_cols)
    gram_joins_sql = " ".join(gram_joins)
    keep_sql = " AND ".join(
        f"{name} <= {cap}" for name, cap in textstats.GOPHER_CAPS.items())
    return f"""
    WITH lined AS (
        SELECT doc_id,
               replace(replace(text, ' table ', chr(10)),
                       ' part ', chr(10) || chr(10)) AS t0
        FROM documents),
    corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN t0 || chr(10) || t0 ELSE t0 END
                 AS text
        FROM lined),
    base AS (
        SELECT doc_id, text, greatest(length(text), 1) AS n,
               len(list_filter(string_split_regex(text, '\\s+'),
                               w -> w <> '')) AS nw
        FROM corpus),
    lines AS (
        SELECT doc_id, trim(l) AS tok
        FROM corpus, unnest(string_split(text, chr(10))) AS u(l)
        WHERE trim(l) <> ''),
    linec AS (SELECT doc_id, tok, count(*) AS c FROM lines GROUP BY doc_id, tok),
    linef AS (
        SELECT doc_id,
               round(sum(c - 1) * 1.0 / greatest(sum(c), 1), 6)
                 AS dup_line_frac,
               round(sum((c - 1) * length(tok)) * 1.0
                     / greatest(sum(c * length(tok)), 1), 6)
                 AS dup_line_char_frac
        FROM linec GROUP BY doc_id),
    paras AS (
        SELECT doc_id, trim(p) AS tok
        FROM corpus,
             unnest(string_split_regex(text, '\\n\\s*\\n')) AS u(p)
        WHERE trim(p) <> ''),
    parac AS (SELECT doc_id, tok, count(*) AS c FROM paras GROUP BY doc_id, tok),
    paraf AS (
        SELECT doc_id,
               round(sum(c - 1) * 1.0 / greatest(sum(c), 1), 6)
                 AS dup_para_frac
        FROM parac GROUP BY doc_id),
    words AS (
        SELECT doc_id, n,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           w -> w <> '') AS ws
        FROM base),
    {gram_ctes_sql},
    sig AS (
        SELECT base.doc_id, base.nw,
               coalesce(dup_line_frac, 0.0) AS dup_line_frac,
               coalesce(dup_line_char_frac, 0.0) AS dup_line_char_frac,
               coalesce(dup_para_frac, 0.0) AS dup_para_frac,
               {gram_cols_sql}
        FROM base
        LEFT JOIN linef USING (doc_id)
        LEFT JOIN paraf USING (doc_id)
        {gram_joins_sql})
    SELECT doc_id::BIGINT AS doc_id, nw::BIGINT AS n_words,
           dup_line_frac, dup_line_char_frac, dup_para_frac,
           top2_char_frac, top3_char_frac, top4_char_frac,
           (nw < 50 OR ({keep_sql})) AS keep
    FROM sig"""


SQL_DOC_GOPHER = _gopher_sql()


# --------------------------------------------------------------------------
# dedup_* — deduplication over documents (+ planted duplicates)
# --------------------------------------------------------------------------

def _docs_with_exact_dups(spark, sf):
    d = relational.load(spark, sf, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


def q_dedup_exact(spark, sf):
    return dedupe.exact_dup_groups(_docs_with_exact_dups(spark, sf), "doc_id", "text").select(
        "text_hash", F.col("n_docs").cast("long").alias("n_docs"),
        F.col("keep_id").cast("long").alias("keep_id"),
    )


SQL_DEDUP_EXACT = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
    SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs,
           min(doc_id)::BIGINT AS keep_id
    FROM corpus GROUP BY md5(text)
"""


def q_dedup_pages(spark, sf):
    """Driver row for the PRODUCTION page-level dedup
    (pipeline.runner.dedup_pages — the stage every downstream phase sits
    behind; VERDICT r4 item 1: previously pytest-only): a pages-shaped
    frame is synthesized from documents (url + utf-8 html bytes), every
    10th doc mirrored under a lexicographically larger url (must lose to
    the original), every 13th doc added as a NULL-content page (must
    pass through unconditionally — the md5(NULL) coalesce-to-url
    branch).  Returns the surviving url set."""
    from kgspark.pipeline.runner import dedup_pages
    d = relational.load(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("_id"), "text")
    base = d.select(
        F.concat(F.lit("https://example.org/"), "_id").alias("url"),
        F.encode("text", "UTF-8").alias("html"))
    mirror = d.filter(F.col("_id").cast("long") % 10 == 0).select(
        F.concat(F.lit("https://mirror.example.org/"), "_id").alias("url"),
        F.encode("text", "UTF-8").alias("html"))
    nulls = d.filter(F.col("_id").cast("long") % 13 == 0).select(
        F.concat(F.lit("https://null.example.org/"), "_id").alias("url"),
        F.lit(None).cast("binary").alias("html"))
    pages = base.unionByName(mirror).unionByName(nulls)
    return dedup_pages(pages, from_html=True).select("url")


# DuckDB md5(varchar) hashes the string's UTF-8 bytes — the same digest
# Spark computes over the encode(text,'UTF-8') binary column
SQL_DEDUP_PAGES = """
    WITH pages AS (
        SELECT 'https://example.org/' || doc_id::VARCHAR AS url, text
        FROM documents
        UNION ALL
        SELECT 'https://mirror.example.org/' || doc_id::VARCHAR, text
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT 'https://null.example.org/' || doc_id::VARCHAR, NULL
        FROM documents WHERE doc_id % 13 = 0)
    SELECT min(url) AS url FROM pages GROUP BY coalesce(md5(text), url)
"""


def _docs_with_near_dups(spark, sf):
    """documents plus near-duplicates: every 7th doc re-appended with its
    last 3 words dropped (high n-gram Jaccard by construction)."""
    d = relational.load(spark, sf, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    trimmed = F.array_join(F.slice(words, 1, F.greatest(F.size(words) - 3, F.lit(1))), " ")
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), trimmed.alias("text")
    )
    return d.unionByName(near)


_NEAR_DUP_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000,
        array_to_string(l[1:greatest(len(l) - 3, 1)], ' ')
    FROM (SELECT doc_id,
            list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS l
          FROM documents WHERE doc_id % 7 = 0)
"""


def q_dedup_jaccard(spark, sf):
    return dedupe.jaccard_pairs_exact(
        _docs_with_near_dups(spark, sf), "doc_id", "text", n=3, threshold=0.5
    ).select(
        F.col("id1").cast("long").alias("id1"),
        F.col("id2").cast("long").alias("id2"), "jaccard",
    )


_SHINGLE_SQL = """
    SELECT doc_id, list_distinct(
        list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                       i -> array_to_string(words[i:i+2], ' '))) AS sh
    FROM (SELECT doc_id,
            list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words
          FROM corpus)
"""

SQL_DEDUP_JACCARD = f"""
    WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
    sh AS ({_SHINGLE_SQL}),
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) AS n1, len(b.sh) AS n2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id1::BIGINT AS id1, id2::BIGINT AS id2,
           round(inter * 1.0 / (n1 + n2 - inter), 6) AS jaccard
    FROM pairs
    WHERE inter > 0 AND round(inter * 1.0 / (n1 + n2 - inter), 6) >= 0.5
"""


def q_dedup_minhash_sig(spark, sf):
    d = relational.load(spark, sf, "documents")
    return dedupe.minhash_signature(d, "doc_id", "text", n=3, k=8, hash_fn="md5").select(
        F.col("id").cast("long").alias("id"),
        *[F.col(f"h{i}").alias(f"h{i}") for i in range(8)],
    )


SQL_DEDUP_MINHASH_SIG = f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    sh AS ({_SHINGLE_SQL}),
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh)
    SELECT doc_id::BIGINT AS id,
        {", ".join(
            f"min(('0x' || substr(md5('{i}:' || shingle), 1, 8))::BIGINT) AS h{i}"
            for i in range(8)
        )}
    FROM ex GROUP BY doc_id
"""


def q_dedup_lsh(spark, sf):
    """MinHash-LSH + exact verify; oracle = exact Jaccard pairs >= 0.8
    (verified: LSH recall is total on this corpus at k=16/b=8)."""
    return dedupe.lsh_dup_pairs(
        _docs_with_near_dups(spark, sf), "doc_id", "text",
        n=3, k=16, bands=8, threshold=0.8,
    ).select(
        F.col("id1").cast("long").alias("id1"),
        F.col("id2").cast("long").alias("id2"), "jaccard",
    )


SQL_DEDUP_LSH = f"""
    WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
    sh AS ({_SHINGLE_SQL}),
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) AS n1, len(b.sh) AS n2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id1::BIGINT AS id1, id2::BIGINT AS id2,
           round(inter * 1.0 / (n1 + n2 - inter), 6) AS jaccard
    FROM pairs
    WHERE inter > 0 AND round(inter * 1.0 / (n1 + n2 - inter), 6) >= 0.8
"""


def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs in the guaranteed-recall regime: 8×8-bit
    blocks cover hamming ≤ 7 by pigeonhole, so the blocked Spark result
    equals the all-pairs exact-hamming DuckDB replay (md5-derived word
    bits on both sides)."""
    return dedupe.simhash_pairs(
        _docs_with_near_dups(spark, sf), "doc_id", "text",
        max_dist=7, n_blocks=8, hash_fn="md5",
    ).select(
        F.col("id1").cast("long").alias("id1"),
        F.col("id2").cast("long").alias("id2"),
        F.col("hamming").cast("long").alias("hamming"),
    ).orderBy("id1", "id2")


SQL_DEDUP_SIMHASH = f"""
    WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
    words AS (
        SELECT doc_id, unnest(list_distinct(
            list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))) AS w
        FROM corpus),
    -- bit i of a word lives in 16-bit md5-hex chunk i//16 at offset i%16
    votes AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN (
                     (('0x' || substr(md5(w), 1 + 4 * (b.bit // 16), 4))::INTEGER
                      >> (b.bit % 16)) & 1) = 1
                   THEN 1 ELSE -1 END) AS v
        FROM words, (SELECT unnest(generate_series(0, 63)) AS bit) b
        GROUP BY doc_id, b.bit),
    -- 8-bit block value: earlier bit index is more significant (fold order)
    blocks AS (
        SELECT doc_id, bit // 8 AS blk,
               sum(CASE WHEN v > 0 THEN (1 << (7 - (bit % 8))) ELSE 0 END) AS val
        FROM votes GROUP BY doc_id, bit // 8),
    sigs AS (SELECT doc_id, list(val ORDER BY blk) AS s FROM blocks GROUP BY doc_id)
    SELECT id1::BIGINT AS id1, id2::BIGINT AS id2, hamming::BIGINT AS hamming
    FROM (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               list_sum(list_transform(generate_series(1, 8),
                   i -> bit_count(xor(a.s[i]::BIGINT, b.s[i]::BIGINT)))) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
    WHERE hamming <= 7
"""


# --------------------------------------------------------------------------
# emb_* — similarity search over the embeddings table
# --------------------------------------------------------------------------

def q_emb_topk(spark, sf):
    e = relational.load(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.topk_neighbors(e, queries, "vec_id", "embedding", k=5).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "sim", F.col("rank").cast("long").alias("rank"),
    )


SQL_EMB_TOPK = """
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            round(list_cosine_similarity(q.embedding::DOUBLE[],
                                         c.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 8)
    SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
           sim, rank::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
"""


def _emb_with_planted(spark, sf):
    e = relational.load(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: (x.cast("double") * 0.5).cast("float"))
          .alias("embedding"),
    )
    return e.unionByName(planted)


def q_emb_dup_pairs(spark, sf):
    """Embedding near-dup pairs via the banded-LSH scale path (no
    all-pairs join).  The oracle is the EXACT all-pairs SQL, so a green
    row certifies the LSH path's total recall on this corpus — vectors at
    cosine ≥0.99 are near-parallel and agree on almost every hyperplane
    sign, and multiprobe absorbs residual bit flips."""
    return similarity.embedding_dup_pairs_ann(
        _emb_with_planted(spark, sf), "vec_id", "embedding", threshold=0.99,
        dim=64,
    ).select(
        F.col("id1").cast("long").alias("id1"),
        F.col("id2").cast("long").alias("id2"), "sim",
    )


SQL_EMB_DUP_PAIRS = """
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000,
               list_transform(embedding::DOUBLE[], x -> (x * 0.5)::FLOAT::DOUBLE)
        FROM embeddings WHERE vec_id % 20 = 0)
    SELECT a.vec_id::BIGINT AS id1, b.vec_id::BIGINT AS id2,
           round(list_cosine_similarity(a.v, b.v), 4) AS sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.99
"""


def q_emb_ann_topk(spark, sf):
    """Hyperplane-LSH ANN with multiprobe; the DuckDB oracle replays the
    md5-derived planes, signatures, band/probe keys, and re-rank exactly
    (recall vs brute force separately asserted ≥0.9 in pytest)."""
    e = relational.load(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.ann_topk(
        e, queries, "vec_id", "embedding", dim=64, k=5, n_planes=24, band_bits=4
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "sim", F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def _ann_topk_sql(dim: int = 64, n_planes: int = 24, band_bits: int = 4,
                  k: int = 5) -> str:
    """Replay of similarity.ann_topk: md5-derived hyperplanes → sign-bit
    signature → band keys (query side probes hamming-1 flips) → exact
    cosine re-rank."""
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    probes = ", ".join(str(1 << i) for i in range(band_bits))
    return f"""
    WITH planes AS MATERIALIZED (
        SELECT p, list(val ORDER BY d) AS pv FROM (
            SELECT pp.p, dd.d,
                   (('0x' || substr(md5('plane:' || pp.p || ':' || dd.d), 1, 8))::BIGINT
                    / 4294967295.0) * 2.0 - 1.0 AS val
            FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS p) pp,
                 (SELECT unnest(generate_series(0, {dim - 1})) AS d) dd)
        GROUP BY p),
    vecs AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS MATERIALIZED (
        SELECT e.vec_id,
               sum(CASE WHEN list_dot_product(e.v, pl.pv) > 0
                   THEN (1::BIGINT << pl.p) ELSE 0 END) AS sig
        FROM vecs e, planes pl GROUP BY e.vec_id),
    nbands AS MATERIALIZED (
        SELECT s.vec_id, b.band,
               ((s.sig >> (b.band * {band_bits})) & {mask})::INTEGER AS key
        FROM sigs s, (SELECT unnest(generate_series(0, {n_bands - 1})) AS band) b),
    qbands AS MATERIALIZED (
        SELECT nb.vec_id, nb.band, unnest(
            [nb.key] || list_transform([{probes}], f -> xor(nb.key::BIGINT, f)::INTEGER)
        ) AS key
        FROM nbands nb WHERE nb.vec_id < 8),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
        FROM qbands q JOIN nbands n ON q.band = n.band AND q.key = n.key
        WHERE q.vec_id <> n.vec_id),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               round(list_cosine_similarity(qv.v, nv.v), 4) AS sim
        FROM cand c
        JOIN vecs qv ON qv.vec_id = c.query_id
        JOIN vecs nv ON nv.vec_id = c.neighbor_id)
    SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
           sim, rank::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
"""


SQL_EMB_ANN_TOPK = _ann_topk_sql()


def q_emb_ivf_topk(spark, sf):
    """IVF-flat ANN: corpus bucketed by nearest of 16 deterministic
    data-sampled centroids, queries probe their 4 closest lists, exact
    rerank — the inverted-list scale path beside the hyperplane-LSH one.
    DuckDB replays centroid seeding, assignment and probing exactly."""
    e = relational.load(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.ivf_topk(
        e, queries, "vec_id", "embedding", k=5, n_centroids=16, n_probe=4
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "sim", F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


SQL_EMB_IVF_TOPK = """
    WITH vecs AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 16)),
    scored_assign AS MATERIALIZED (
        SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS sim
        FROM vecs e, cents c),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM scored_assign) WHERE rn = 1),
    qprobe AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM scored_assign WHERE vec_id < 8) WHERE rn <= 4),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
        FROM qprobe q JOIN assign n ON q.cid = n.cid
        WHERE q.vec_id <> n.vec_id),
    reranked AS (
        SELECT c.query_id, c.neighbor_id,
               round(list_cosine_similarity(qv.v, nv.v), 4) AS sim
        FROM cand c
        JOIN vecs qv ON qv.vec_id = c.query_id
        JOIN vecs nv ON nv.vec_id = c.neighbor_id)
    SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
           sim, rank::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM reranked)
    WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# mm_* — multimodal binary-payload plumbing
# --------------------------------------------------------------------------

def q_mm_decode_meta(spark, sf):
    d = relational.load(spark, sf, "documents")
    payloads = multimodal.with_payload(d, "doc_id", "text")
    return multimodal.decode_image_meta(payloads).select(
        "doc_id", F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "mean_millibyte",
    )


SQL_MM_DECODE_META = """
    WITH raw AS (
        SELECT doc_id, octet_length(encode(text)) AS n,
               hex(encode(text)) AS h
        FROM documents),
    b AS (
        -- bytesum over the UTF-8 bytes (via hex pairs), matching the
        -- Spark kernel's sum over the raw payload — correct for
        -- non-ASCII text, unlike a sum of codepoints
        SELECT doc_id, n,
               list_sum(list_transform(generate_series(1, n),
                   i -> ('0x' || substr(h, 2 * i - 1, 2))::INTEGER)) AS bytesum
        FROM raw)
    SELECT doc_id::BIGINT AS doc_id, n::BIGINT AS n_bytes,
           (64 + n % 577)::BIGINT AS width,
           (64 + (n * 31) % 419)::BIGINT AS height,
           (1 + n % 7)::BIGINT AS n_frames,
           (bytesum * 1000 // n)::BIGINT AS mean_millibyte
    FROM b
"""


def q_mm_resize(spark, sf):
    """Resize planning over decoded metadata (aspect-preserving integer
    scale; never upscales)."""
    d = relational.load(spark, sf, "documents")
    decoded = multimodal.decode_image_meta(multimodal.with_payload(d, "doc_id", "text"))
    return multimodal.resize_plan(decoded, max_w=224, max_h=224).select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("scale_millis").cast("long").alias("scale_millis"),
        "resized_w", "resized_h",
    )


SQL_MM_RESIZE = """
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    dims AS (
        SELECT doc_id, (64 + n % 577)::BIGINT AS width,
               (64 + (n * 31) % 419)::BIGINT AS height
        FROM b),
    scaled AS (
        SELECT doc_id, width, height,
               least(1000, (1000 * 224) // width, (1000 * 224) // height) AS scale_millis
        FROM dims)
    SELECT doc_id::BIGINT AS doc_id, width, height,
           scale_millis::BIGINT AS scale_millis,
           (width * scale_millis // 1000)::BIGINT AS resized_w,
           (height * scale_millis // 1000)::BIGINT AS resized_h
    FROM scaled
"""


def q_mm_features(spark, sf):
    """Byte-histogram feature extraction (mapInPandas, deterministic
    embedding stand-in); exploded to (doc_id, bucket, value) so the
    oracle compares scalar cells."""
    d = relational.load(spark, sf, "documents")
    feats = multimodal.byte_histogram_features(
        multimodal.with_payload(d, "doc_id", "text"), dim=16)
    return feats.select(
        "doc_id", F.posexplode("features").alias("bucket", "value")
    ).select("doc_id", F.col("bucket").cast("long").alias("bucket"), "value")


SQL_MM_FEATURES = """
    WITH raw AS (
        SELECT doc_id, octet_length(encode(text)) AS n,
               hex(encode(text)) AS h
        FROM documents),
    bytes AS (
        SELECT doc_id, n,
               (('0x' || substr(h, 2 * i - 1, 2))::INTEGER % 16) AS bucket
        FROM raw, unnest(generate_series(1, n)) t(i)),
    counts AS (
        SELECT doc_id, bucket, count(*) AS c FROM bytes GROUP BY doc_id, bucket),
    grid AS (
        SELECT r.doc_id, r.n, g.bucket
        FROM raw r, (SELECT unnest(generate_series(0, 15)) AS bucket) g)
    SELECT g.doc_id::BIGINT AS doc_id, g.bucket::BIGINT AS bucket,
           -- same integer round-half-up formula as byte_histogram_features
           -- (double round() can flip at exact .5-at-7th-digit boundaries);
           -- n=0 guarded to 0.0 like the Spark path's [0.0]*dim
           CASE WHEN g.n = 0 THEN 0.0
                ELSE ((2000000 * coalesce(c.c, 0) + g.n) // (2 * g.n)) / 1e6
           END AS value
    FROM grid g LEFT JOIN counts c
      ON g.doc_id = c.doc_id AND g.bucket = c.bucket
"""


def q_mm_decode_real(spark, sf):
    """REAL container decode (kernels/image_codec): deterministic BMP
    (even doc_id) / PNG with all five scanline filters (odd doc_id)
    payloads are ENCODED in one mapInPandas pass and DECODED in another;
    the oracle recomputes width/height/brightness and a position-weighted
    pixel digest directly from the synthesis formula — so a decoder that
    mis-unfilters, flips row order, or swaps BGR fails the hash."""
    d = relational.load(spark, sf, "documents").select("doc_id")
    payloads = multimodal.synth_image_payloads(d, "doc_id")
    out = multimodal.decode_image_real(payloads)
    return out.select(
        "doc_id", "fmt",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.col("n_pixel_bytes").cast("long").alias("n_pixel_bytes"),
        "mean_millichannel", "pix_weighted",
    )


# mirror of multimodal._synth_pixels: width = 8 + id%9, height = 8 +
# (3·id)%7, channel (x,y,c) = (id + 7x + 13y + 29c) % 256 — the oracle
# computes the DECODED ground truth without touching any bytes
SQL_MM_DECODE_REAL = """
    WITH d AS (
        SELECT doc_id::BIGINT AS doc_id,
               8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 7 AS h
        FROM documents),
    px AS (
        SELECT d.doc_id, d.w, d.h,
               (d.doc_id + 7 * xs.x + 13 * ys.y + 29 * cs.c) % 256 AS v,
               ((ys.y * d.w + xs.x) * 3 + cs.c) AS i
        FROM d
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
        CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS y) ys
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS c) cs
        WHERE xs.x < d.w AND ys.y < d.h)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
           any_value(w)::BIGINT AS width,
           any_value(h)::BIGINT AS height,
           3::BIGINT AS n_channels,
           count(*)::BIGINT AS n_pixel_bytes,
           ((sum(v) * 1000) // count(*))::BIGINT AS mean_millichannel,
           sum(v * (1 + i % 97))::BIGINT AS pix_weighted
    FROM px
    GROUP BY doc_id
"""


def q_mm_frame_sample(spark, sf):
    d = relational.load(spark, sf, "documents")
    decoded = multimodal.decode_image_meta(multimodal.with_payload(d, "doc_id", "text"))
    return multimodal.frame_sample(decoded, every_k=2).select(
        "doc_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


SQL_MM_FRAME_SAMPLE = """
    WITH b AS (SELECT doc_id, 1 + octet_length(encode(text)) % 7 AS n_frames FROM documents)
    SELECT doc_id::BIGINT AS doc_id, i::BIGINT AS frame_idx
    FROM b, unnest(generate_series(0, n_frames - 1)) AS t(i)
    WHERE i % 2 = 0
"""


# --------------------------------------------------------------------------
# ev_* — event sessionization and windowed aggregation
# --------------------------------------------------------------------------

def q_ev_sessionize(spark, sf):
    evd = relational.load(spark, sf, "events")
    return ev_ops.sessionize(evd, gap_minutes=30).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_id").cast("long").alias("session_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.unix_micros(F.col("started_at").cast("timestamp_ltz")).alias("started_us"),
        F.unix_micros(F.col("ended_at").cast("timestamp_ltz")).alias("ended_us"),
    )


SQL_EV_SESSIONIZE = """
    WITH marked AS (
        SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
        SELECT user_id, ts,
            sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked)
    SELECT user_id::BIGINT AS user_id, session_id::BIGINT AS session_id,
           count(*)::BIGINT AS n_events,
           min(epoch_us(ts))::BIGINT AS started_us,
           max(epoch_us(ts))::BIGINT AS ended_us
    FROM sess GROUP BY user_id, session_id
"""


def q_ev_tumbling(spark, sf):
    evd = relational.load(spark, sf, "events")
    return ev_ops.tumbling_counts(evd, hours=24).select(
        F.col("window_start").cast("long").alias("window_epoch"),
        "event_type", F.col("n_events").cast("long").alias("n_events"), "sum_value",
    )


SQL_EV_TUMBLING = """
    SELECT epoch(date_trunc('day', ts))::BIGINT AS window_epoch,
           event_type, count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# pipe_* — the kernel pipeline over synthetic pages (rows-only checks)
# --------------------------------------------------------------------------

def _synth_pages(spark, sf):
    """Deterministic in-memory pages corpus sized by the sf dir name."""
    import re as _re
    from kgspark import datagen
    from kgspark.pipeline.ingest import PAGES_SCHEMA
    m = _re.search(r"sf([0-9.]+)", sf)
    n = max(20, int(20000 * float(m.group(1)))) if m else 50
    rows = datagen.generate_rows(n, seed=42)
    return spark.createDataFrame(rows, PAGES_SCHEMA).repartition(8)


def q_pipe_extract_parity(spark, sf):
    """Per-row invariant: kernel(html) byte-identical to shipped text.
    NO ORACLE (rows-only) by necessity: the check runs the Python
    extraction kernel itself — DuckDB cannot execute it, and any SQL
    restatement would be a second implementation, not an oracle."""
    from kgspark.pipeline.ingest import extract_text_udf
    pages = _synth_pages(spark, sf)
    return pages.agg(
        F.count("*").alias("pages"),
        F.sum(F.when(extract_text_udf(F.col("html")) == F.col("text"), 1).otherwise(0))
          .cast("long").alias("byte_identical"),
    )


def q_pipe_extract_triples(spark, sf):
    """html → extract_text → chunk → pattern-extraction; per-predicate
    counts of the raw triples (deterministic across parallelism).
    NO ORACLE (rows-only): output is produced by the Python kernels
    (HTML walk + chunker + pattern extractor) which SQL cannot replay;
    kernel correctness is pytest-verified (test_kernels, P/R e2e)."""
    from kgspark.pipeline import chunking, extraction, ingest
    pages = ingest.with_extracted_text(_synth_pages(spark, sf))
    chunks = chunking.chunk_pages(pages, 100, 20)
    raw = extraction.extract_raw_triples(chunks)
    return (
        raw.groupBy("predicate").agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "predicate")
    )


def q_pipe_kg_e2e(spark, sf):
    """Full pipeline (phases 1-3) over synthetic pages → corpus stats.
    NO ORACLE (rows-only): phase 1 is Python-kernel-produced (see
    pipe_extract_triples); phases 2-3 ARE SQL-replayed — the
    kg_standardize*/kg_*infer* oracles cover them exactly."""
    from kgspark.config import KgConfig
    from kgspark.pipeline.runner import build_triples
    triples = build_triples(_synth_pages(spark, sf), KgConfig(), from_html=True)
    return triples.agg(
        F.count("*").cast("long").alias("triples"),
        F.countDistinct("url").cast("long").alias("docs"),
        F.countDistinct("subject", "predicate", "object").cast("long").alias("distinct_spo"),
        F.sum(F.when(F.col("inferred"), 1).otherwise(0)).cast("long").alias("inferred"),
    )


def q_pipe_linking(spark, sf):
    """Corpus-scale MinHash-LSH entity linking over extracted entities
    (candidate gen + exact verify + connected components).
    NO ORACLE (rows-only): input is kernel-produced (see pipe_kg_e2e)
    and CC is iterative; the LSH recall property and CC correctness are
    pytest-verified (test_ops LSH recall, kg_connected_components
    oracle covers the CC machinery)."""
    from kgspark.config import KgConfig
    from kgspark.pipeline.runner import build_triples
    cfg = KgConfig()
    triples = build_triples(_synth_pages(spark, sf), cfg, from_html=True)
    # cluster-safe barrier before linking re-scans the triples (persist
    # keeps the rounds recomputable on executor loss, unlike the
    # executor-local localCheckpoint this used in round 2)
    from pyspark import StorageLevel
    triples = triples.persist(StorageLevel.MEMORY_AND_DISK)
    triples.count()
    link_map = linking.link_entities(triples, cfg)
    return (
        link_map.groupBy("canon").agg(F.count("*").cast("long").alias("n_variants"))
        .orderBy(F.desc("n_variants"), "canon")
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    # name: (spark_fn, duckdb_sql | None)
    "kg_basic_stats": (q_kg_basic_stats, SQL_KG_BASIC_STATS),
    "kg_top_predicates": (q_kg_top_predicates, SQL_KG_TOP_PREDICATES),
    "kg_entity_frequency": (q_kg_entity_frequency, SQL_KG_ENTITY_FREQUENCY),
    "kg_role_histograms": (q_kg_role_histograms, SQL_KG_ROLE_HISTOGRAMS),
    "kg_pair_patterns": (q_kg_pair_patterns, SQL_KG_PAIR_PATTERNS),
    "kg_graph_metrics": (q_kg_graph_metrics, SQL_KG_GRAPH_METRICS),
    "kg_degree_centrality": (q_kg_degree_centrality, SQL_KG_DEGREE_CENTRALITY),
    "kg_chunk_distribution": (q_kg_chunk_distribution, SQL_KG_CHUNK_DISTRIBUTION),
    "kg_topic_classification": (q_kg_topic_classification, SQL_KG_TOPIC_CLASSIFICATION),
    "kg_keyword_filter": (q_kg_keyword_filter, SQL_KG_KEYWORD_FILTER),
    "kg_discourse_shift": (q_kg_discourse_shift, SQL_KG_DISCOURSE_SHIFT),
    "kg_entity_tracking": (q_kg_entity_tracking, SQL_KG_ENTITY_TRACKING),
    "kg_period_graph_metrics": (q_kg_period_graph_metrics, SQL_KG_PERIOD_GRAPH_METRICS),
    "kg_period_summary": (q_kg_period_summary, SQL_KG_PERIOD_SUMMARY),
    "kg_period_top_central": (q_kg_period_top_central, SQL_KG_PERIOD_TOP_CENTRAL),
    "kg_period_betweenness": (q_kg_period_betweenness, SQL_KG_PERIOD_BETWEENNESS),
    "kg_community_inference": (q_kg_community_inference, SQL_KG_COMMUNITY_INFERENCE),
    "kg_standardize_map": (q_kg_standardize_map, SQL_KG_STANDARDIZE_MAP),
    "kg_standardized_triples": (q_kg_standardized_triples, SQL_KG_STANDARDIZED_TRIPLES),
    "kg_transitive_inference": (q_kg_transitive_inference, SQL_KG_TRANSITIVE),
    "kg_lexical_inference": (q_kg_lexical_inference, SQL_KG_LEXICAL),
    "kg_dedup_triples": (q_kg_dedup_triples, SQL_KG_DEDUP),
    "kg_connected_components": (q_kg_connected_components, SQL_KG_CC),
    "kg_infer_full": (q_kg_infer_full, SQL_KG_INFER_FULL),
    "doc_chunk_oversize": (q_doc_chunk_oversize, SQL_DOC_CHUNK_OVERSIZE),
    "doc_chunk_overlap": (q_doc_chunk_overlap, SQL_DOC_CHUNK_OVERLAP),
    # doc_langid/doc_quality/doc_tokens folded into doc_profile (round 4)
    # and doc_fingerprint folded in too (round 5) to open driver-budget
    # slots; the standalone builders remain for bench.py and unit tests.
    "doc_profile": (q_doc_profile, SQL_DOC_PROFILE),
    "doc_gopher": (q_doc_gopher, SQL_DOC_GOPHER),
    "dedup_pages": (q_dedup_pages, SQL_DEDUP_PAGES),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_jaccard": (q_dedup_jaccard, SQL_DEDUP_JACCARD),
    "dedup_minhash_sig": (q_dedup_minhash_sig, SQL_DEDUP_MINHASH_SIG),
    "dedup_lsh": (q_dedup_lsh, SQL_DEDUP_LSH),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "emb_topk": (q_emb_topk, SQL_EMB_TOPK),
    "emb_dup_pairs": (q_emb_dup_pairs, SQL_EMB_DUP_PAIRS),
    "emb_ann_topk": (q_emb_ann_topk, SQL_EMB_ANN_TOPK),
    "emb_ivf_topk": (q_emb_ivf_topk, SQL_EMB_IVF_TOPK),
    # mm_decode_meta dropped from the driver registry in round 5 (slot
    # freed for doc_gopher/dedup_pages): the fake decoder it exercised
    # stays oracle-verified INDIRECTLY — mm_resize and mm_frame_sample
    # run decode_image_meta as their input stage — and directly in
    # PYTEST_ONLY below; mm_decode_real covers the real codec path.
    "mm_decode_real": (q_mm_decode_real, SQL_MM_DECODE_REAL),
    "mm_frame_sample": (q_mm_frame_sample, SQL_MM_FRAME_SAMPLE),
    "mm_resize": (q_mm_resize, SQL_MM_RESIZE),
    "mm_features": (q_mm_features, SQL_MM_FEATURES),
    "ev_sessionize": (q_ev_sessionize, SQL_EV_SESSIONIZE),
    "ev_tumbling": (q_ev_tumbling, SQL_EV_TUMBLING),
    "pipe_extract_parity": (q_pipe_extract_parity, None),
    "pipe_extract_triples": (q_pipe_extract_triples, None),
    "pipe_kg_e2e": (q_pipe_kg_e2e, None),
    "pipe_linking": (q_pipe_linking, None),
}


# --------------------------------------------------------------------------
# kg graph centrality extensions (A-9 clustering, A-15 eigenvector)
# --------------------------------------------------------------------------

def _copart_edges(spark, sf):
    """Triangle-rich relational graph: parts co-occurring in an order are
    connected (orders are cliques)."""
    li = relational.load(spark, sf, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, (a["o"] == b["o2"]) & (a["src"] < b["dst"]))
        .select("src", "dst")
        .distinct()
    )


_COPART_EDGES_SQL = """
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    WHERE a.l_orderkey % 5 = 0
"""


def q_kg_triangles(spark, sf):
    """A-9 building block: per-node triangle counts + local clustering
    coefficient over the part-co-occurrence graph."""
    from kgspark.pipeline.graph import clustering_coefficients
    out = clustering_coefficients(_copart_edges(spark, sf))
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("triangles").cast("long").alias("triangles"),
        F.col("degree").cast("long").alias("degree"),
        F.round("clustering", 6).alias("clustering"),
    )


SQL_KG_TRIANGLES = f"""
    WITH fwd AS ({_COPART_EDGES_SQL}),
    und AS (SELECT src AS a, dst AS b FROM fwd
            UNION SELECT dst, src FROM fwd),
    tri AS (
        SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        FROM fwd e1
        JOIN fwd e2 ON e1.dst = e2.src
        JOIN fwd e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    corners AS (
        SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri),
    tcnt AS (SELECT node, count(*) AS triangles FROM corners GROUP BY node),
    deg AS (SELECT a AS node, count(*) AS degree FROM und GROUP BY a)
    SELECT d.node::BIGINT AS node,
           coalesce(t.triangles, 0)::BIGINT AS triangles,
           d.degree::BIGINT AS degree,
           round(CASE WHEN d.degree >= 2
                 THEN 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
                 ELSE 0.0 END, 6) AS clustering
    FROM deg d LEFT JOIN tcnt t ON d.node = t.node
"""


_EIG_ITERS = 30


def q_kg_eigenvector(spark, sf):
    """A-15: eigenvector centrality by distributed power iteration over
    the geo graph.  It runs a fixed number of iterations, so DuckDB
    replays the exact same 30 normalized iterations; also numpy-verified
    in pytest."""
    from kgspark.pipeline.graph import eigenvector_centrality
    edges = relational.geo_graph_triples(spark, sf).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    out = eigenvector_centrality(edges, max_iter=_EIG_ITERS)
    return out.select("node", F.round("centrality", 4).alias("centrality")) \
              .orderBy(F.desc("centrality"), "node").limit(25)


def _eigenvector_sql(iters: int) -> str:
    """Unrolled power iteration: x_{k+1} = A x_k / ||A x_k||_2, replaying
    eigenvector_centrality CTE-by-CTE (recursive CTEs cannot
    aggregate over the prior iterate, so the loop is unrolled)."""
    # MATERIALIZED: DuckDB would otherwise inline trip/und into all 30
    # iterations and re-open the parquet files past the fd limit
    ctes = [
        f"trip AS MATERIALIZED ({relational.GEO_GRAPH_TRIPLES_SQL})",
        """und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
            SELECT subject AS a, object AS b FROM trip
            UNION ALL SELECT object, subject FROM trip))""",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)",
        "x0 AS (SELECT node, 1.0 / sqrt((SELECT count(*) FROM nodes)) AS score FROM nodes)",
    ]
    for k in range(1, iters + 1):
        # each iterate MATERIALIZED: y{k} is referenced twice (values +
        # norm subquery) — inlining would double the tree per level and
        # blow up 2^iters
        ctes.append(
            f"y{k} AS MATERIALIZED (SELECT u.a AS node, sum(x.score) AS raw "
            f"FROM und u JOIN x{k-1} x ON u.b = x.node GROUP BY u.a)"
        )
        ctes.append(
            f"x{k} AS MATERIALIZED (SELECT node, "
            f"raw / (SELECT sqrt(sum(raw*raw)) FROM y{k}) AS score FROM y{k})"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT node, round(score, 4) AS centrality FROM x{iters}
    ORDER BY centrality DESC, node LIMIT 25"""
    )


SQL_KG_EIGENVECTOR = _eigenvector_sql(_EIG_ITERS)

QUERIES["kg_triangles"] = (q_kg_triangles, SQL_KG_TRIANGLES)
QUERIES["kg_eigenvector"] = (q_kg_eigenvector, SQL_KG_EIGENVECTOR)

# Driver budget ordering: the driver executes at most 50 registered
# queries in registration order.  The rows-only pipe_* checks re-register
# LAST so every exact-oracle query (including the two appended above)
# stays inside the budget — if anything is ever dropped it is a rows-only
# entry, never an oracle-bearing one.
for _k in ("pipe_extract_parity", "pipe_extract_triples",
           "pipe_kg_e2e", "pipe_linking"):
    QUERIES[_k] = QUERIES.pop(_k)
assert len(QUERIES) <= 50, f"driver query budget exceeded: {len(QUERIES)}"

# Oracle-bearing entries folded OUT of the 50-slot driver registry but
# still exercised by pytest (tests/test_entry_contract.py) and always
# included in tools/check_oracle.py: same (builder, SQL) contract, zero
# driver budget.
PYTEST_ONLY: dict[str, tuple] = {
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "mm_decode_meta": (q_mm_decode_meta, SQL_MM_DECODE_META),
}
