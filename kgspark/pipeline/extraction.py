"""Triple extraction stage: (url, chunk_id, chunk_text) → raw triples.

Arrow UDF around the deterministic pattern kernel
(kgspark.kernels.triple_extract — replaces reference main.py:19-97 LLM
call), exploded to one row per triple with a dense per-document order
column ``seq`` (needed to replicate the reference's list-order-dependent
"last predicate wins" and dedup semantics — SURVEY §4 determinism row)
computed WITHOUT a shuffle: seq = chunk_id * 2^20 + position-in-chunk,
strictly increasing in (chunk_id, pos).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from kgspark.kernels.triple_extract import extract_triples

_TRIPLE_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("subject", T.StringType()),
            T.StructField("predicate", T.StringType()),
            T.StructField("object", T.StringType()),
        ]
    )
)

_SEQ_BASE = 1 << 20  # triples per chunk never approach this


@F.pandas_udf(_TRIPLE_T)
def extract_triples_udf(chunks: pd.Series) -> pd.Series:
    return chunks.map(lambda c: [(t["subject"], t["predicate"], t["object"])
                                 for t in extract_triples(c or "")])


def _triple_rows(exploded: DataFrame, keep: list[str], chunk: Column,
                 pos: Column) -> DataFrame:
    """Output projection shared by both phase-1 paths: (*keep, chunk, seq,
    subject, predicate, object) with seq = chunk * 2^20 + pos.  The fields
    pass through as the kernel emits them: ``extract_triples`` already
    strips each one and drops incomplete triples (reference main.py:79-87)."""
    return exploded.select(
        *keep,
        chunk.alias("chunk"),
        (chunk.cast("long") * F.lit(_SEQ_BASE) + pos).alias("seq"),
        "t.subject", "t.predicate", "t.object",
    )


def extract_raw_triples(chunks: DataFrame) -> DataFrame:
    keep = [c for c in chunks.columns if c in ("url", "bucket")]
    exploded = chunks.select(
        *keep,
        F.col("chunk_id"),
        F.posexplode(extract_triples_udf(F.col("chunk_text"))).alias("_pos", "t"),
    )
    return _triple_rows(exploded, keep, F.col("chunk_id"), F.col("_pos"))


_FUSED_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("subject", T.StringType()),
            T.StructField("predicate", T.StringType()),
            T.StructField("object", T.StringType()),
        ]
    )
)


def extract_pipeline_fused(pages: DataFrame, chunk_size: int = 100,
                           overlap: int = 20, from_html: bool = True,
                           t2s: bool = False) -> DataFrame:
    """Phase 1 in ONE Arrow pass: html/text → [t2s] → chunk → pattern
    extraction, emitted as an array of (chunk, pos, s, p, o) structs and
    exploded JVM-side.

    Same kernels, same output as the modular
    ``with_extracted_text → chunk_pages → extract_raw_triples`` chain
    (parity-asserted in tests) — but the document text crosses the
    JVM↔Python Arrow boundary ONCE instead of three times, which is the
    phase-1 hot-path cost at corpus scale.  The modular stages remain the
    unit-testable / driver-query surface."""
    src_col = "html" if from_html else "text"

    @F.pandas_udf(_FUSED_T)
    def fused_udf(src: pd.Series) -> pd.Series:
        from kgspark.kernels.html_extract import extract_text
        from kgspark.kernels.textproc import chunk_text, t2s_convert
        from kgspark.kernels.triple_extract import extract_triples

        def go(v):
            text = extract_text(v) if from_html else (v or "")
            if t2s:
                text = t2s_convert(text or "")
            out = []
            for ci, chunk in enumerate(
                chunk_text(text or "", max_length=chunk_size, overlap=overlap),
                start=1,
            ):
                for pos, t in enumerate(extract_triples(chunk or "")):
                    out.append((ci, pos, t["subject"], t["predicate"], t["object"]))
            return out

        return src.map(go)

    keep = [c for c in pages.columns if c in ("url", "bucket")]
    exploded = pages.select(
        *keep, F.explode(fused_udf(F.col(src_col))).alias("t")
    )
    return _triple_rows(exploded, keep, F.col("t.chunk"), F.col("t.pos"))
