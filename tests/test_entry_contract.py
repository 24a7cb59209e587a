"""Fast driver-contract regression: a representative subset of querybank
entries must match their DuckDB oracles at sf0.001 (the full sweep lives
in tools/check_oracle.py; this keeps pytest runtime bounded while still
catching cross-engine drift in CI)."""

from __future__ import annotations

import math

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
SUBSET = [
    "kg_top_predicates", "kg_standardize_map", "kg_standardized_triples",
    "kg_transitive_inference", "kg_lexical_inference", "kg_infer_full",
    "kg_dedup_triples", "kg_connected_components", "kg_community_inference",
    "doc_chunk_overlap", "doc_profile", "doc_gopher", "dedup_pages",
    "dedup_exact", "dedup_lsh", "emb_topk", "mm_decode_meta", "mm_decode_real",
    "ev_sessionize",
]


def _norm(v):
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return "NULL" if v is None else str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    from kgspark.querybank import PYTEST_ONLY, QUERIES

    fn, sql = {**QUERIES, **PYTEST_ONLY}[name]
    assert sql is not None
    sdf = fn(spark, SF)
    got = _canon([tuple(r) for r in sdf.collect()], sdf.columns)
    cur = duck.execute(sql)
    want = _canon(cur.fetchall(), [c[0] for c in cur.description])
    assert sorted(sdf.columns) == sorted(c[0] for c in cur.description)
    assert got == want


def test_entry_module_contract(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entrymod", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    qs, osql = m.queries(), m.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 40
    rows = m.entry(spark).collect()
    assert len(rows) > 0
