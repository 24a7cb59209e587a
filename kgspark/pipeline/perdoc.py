"""Run a per-document kernel over a triples DataFrame: one url
``collect_list(struct(...))`` aggregation, then one ``mapInArrow`` pass in
which each Arrow batch carries many documents.

Phases 2-3 are per document in the reference, and a document's rows are
bounded by its size (tens of triples), never by the corpus, so the
collected lists stay small at any scale.  The whole batch crosses into
Python once and the kernel sees plain lists, with no pandas frame per
document.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_docs(triples: DataFrame, cols: Sequence[str],
             kernel: Callable[[list], list], fields: Sequence[T.StructField],
             carry: Sequence[str] = ()) -> DataFrame:
    """``kernel(rows)`` once per url, where ``rows`` are the url's rows as
    tuples of ``cols`` and each returned tuple is one output row of
    ``fields``.  Output columns: ``url``, ``*carry``, ``*fields``.

    With ``carry``, each returned tuple starts with the index of the input
    row whose ``carry`` columns the output row keeps; those columns are
    copied with Arrow ``take`` and never converted to Python objects."""
    schema = T.StructType([triples.schema["url"],
                           *(triples.schema[c] for c in carry), *fields])
    arrow_schema = to_arrow_schema(schema)
    n_head = 1 + len(carry)
    names = [*cols, *carry]
    grouped = triples.groupBy("url").agg(
        F.collect_list(F.struct(*names)).alias("_rows"))

    def run(batches):
        import pyarrow as pa

        for b in batches:
            docs = b.column(1)
            children = dict(zip(names, docs.flatten().flatten()))
            vals = [children[c].to_pylist() for c in cols]
            off = docs.offsets.to_pylist()
            parent, take, out = [], [], []
            for d in range(len(b)):
                lo, hi = off[d] - off[0], off[d + 1] - off[0]
                res = kernel(list(zip(*(v[lo:hi] for v in vals))))
                parent += [d] * len(res)
                if carry:
                    take += [lo + r[0] for r in res]
                    res = [r[1:] for r in res]
                out += res
            columns = list(zip(*out)) if out else [()] * len(fields)
            arrays = [b.column(0).take(pa.array(parent, pa.int64()))]
            arrays += [children[c].take(pa.array(take, pa.int64())) for c in carry]
            arrays += [pa.array(col, type=f.type)
                       for col, f in zip(columns, list(arrow_schema)[n_head:])]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return grouped.mapInArrow(run, schema)
