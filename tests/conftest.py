from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from kgspark.session import get_session

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("chunk", T.IntegerType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("subject", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("object", T.StringType(), False),
    ]
)


@pytest.fixture(scope="session")
def spark():
    # 8g + 2min cleaner GC: the suite shares ONE JVM across ~200 tests,
    # several of which run iterative graph jobs whose localCheckpoint /
    # persist blocks are freed only on a ContextCleaner sweep — with the
    # 30min default interval the heap fills long before the suite ends.
    # A full run peaks at 9.1 GiB RSS (VmHWM) at 8g and 13.2 GiB at 12g.
    # An older tree failed Louvain's nx-parity test at 8g (broadcast build
    # out of memory); if that returns, find what holds the heap.
    s = get_session(master="local[4]", app_name="kgspark-tests",
                    shuffle_partitions=4, driver_memory="8g",
                    extra_conf={"spark.cleaner.periodicGC.interval": "2min"})
    yield s
    s.stop()


def triples_df(spark, rows: list[dict], url: str = "u1"):
    """list of reference-style triple dicts → DataFrame with lineage cols."""
    data = [
        (
            t.get("url", url),
            t.get("chunk"),
            t.get("seq", i),
            t["subject"],
            t["predicate"],
            t["object"],
        )
        for i, t in enumerate(rows)
    ]
    return spark.createDataFrame(data, TRIPLE_SCHEMA)


SAMPLE_TRIPLES = [
    # the reference's built-in fixture (visualization.py:360-382)
    {"subject": "Industrial Revolution", "predicate": "began in", "object": "Great Britain"},
    {"subject": "Industrial Revolution", "predicate": "characterized by", "object": "machine manufacturing"},
    {"subject": "Industrial Revolution", "predicate": "led to", "object": "urbanization"},
    {"subject": "Industrial Revolution", "predicate": "led to", "object": "rise of capitalism"},
    {"subject": "Industrial Revolution", "predicate": "led to", "object": "new labor movements"},
    {"subject": "Industrial Revolution", "predicate": "fueled by", "object": "technological innovations"},
    {"subject": "James Watt", "predicate": "developed", "object": "steam engine"},
    {"subject": "James Watt", "predicate": "born in", "object": "Scottland"},
    {"subject": "Scottland", "predicate": "a country in", "object": "Europe"},
    {"subject": "steam engine", "predicate": "revolutionized", "object": "transportation"},
    {"subject": "steam engine", "predicate": "revolutionized", "object": "manufacturing processes"},
    {"subject": "steam engine", "predicate": "spread to", "object": "Europe"},
    {"subject": "steam engine", "predicate": "lead to", "object": "Industrial Revolution"},
    {"subject": "steam engine", "predicate": "spread to", "object": "North America"},
    {"subject": "technological innovations", "predicate": "led to", "object": "Digital Computers"},
    {"subject": "Digital Computers", "predicate": "enabled", "object": "Artificial Intelligence"},
    {"subject": "Artificial Intelligence", "predicate": "will replace", "object": "Humanity"},
    {"subject": "Artificial Intelligence", "predicate": "led to", "object": "LLMs"},
    {"subject": "Robert McDermott", "predicate": "likes", "object": "LLMs"},
    {"subject": "Robert McDermott", "predicate": "owns", "object": "Digital Computers"},
    {"subject": "Robert McDermott", "predicate": "lives in", "object": "North America"},
]
