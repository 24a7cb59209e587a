"""Independent output oracle and the kernel layer's timings.

The oracle is the engine's per-document kernels (html extract → chunk →
pattern extraction) followed by ``tests/oracle/refsem.py``, the
row-at-a-time port of the reference's phases 2–3, in plain Python with no
Spark.  Set and table comparisons go through order-independent digests:
a digest is the sum, modulo 2^64, of a 64-bit hash of each element.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter

from kgspark.kernels.html_extract import extract_text
from kgspark.kernels.textproc import chunk_text
from kgspark.kernels.triple_extract import extract_triples
from tests.oracle import refsem

_MASK = (1 << 64) - 1


def row_hash(row: tuple) -> int:
    key = "\x1f".join(str(v) for v in row).encode("utf-8", "surrogatepass")
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def digest(rows) -> tuple[int, str]:
    """(count, digest) of an iterable of tuples, in any order."""
    n = 0
    acc = 0
    for r in rows:
        n += 1
        acc = (acc + row_hash(r)) & _MASK
    return n, f"{acc:016x}"


def raw_triples(html: bytes) -> list[dict]:
    """Phase 1 of one page at the default config's chunking (100/20)."""
    rows = []
    for ci, chunk in enumerate(
            chunk_text(extract_text(html), max_length=100, overlap=20), start=1):
        for t in extract_triples(chunk):
            rows.append({**t, "chunk": ci})
    return rows


def page_triples(url: str, html: bytes) -> list[tuple]:
    """Final (url, s, p, o, inferred) rows of one page."""
    return [
        (url, t["subject"], t["predicate"], t["object"], bool(t.get("inferred", False)))
        for t in refsem.infer(refsem.standardize(raw_triples(html)))
    ]


def _pages_triples(pages: list[tuple[str, bytes]]) -> list[tuple]:
    out = []
    for url, html in pages:
        out.extend(page_triples(url, html))
    return out


def derived_tables(triples: list[tuple]) -> tuple[list[tuple], set[tuple]]:
    """entities (entity, mentions, degree) and edges (src, dst, predicate,
    inferred) as the job derives them from its triples table."""
    mentions: Counter = Counter()
    for _u, s, _p, o, _i in triples:
        mentions[s] += 1
        mentions[o] += 1
    edges = {(s, o, p, i) for _u, s, p, o, i in triples}
    neighbours: dict[str, set] = {}
    for s, o, _p, _i in edges:
        neighbours.setdefault(s, set()).add(o)
        neighbours.setdefault(o, set()).add(s)
    ents = [(e, m, len(neighbours.get(e, ()))) for e, m in mentions.items()]
    return ents, edges


def expected(pages: list[tuple[str, bytes]]) -> dict:
    """Oracle summary of a corpus: triple-set hashes (for P/R), plus
    count/digest of the triple set, the entities table and the edges
    table.  Computed in this process, so it leaves no helper process
    behind: it is the benchmark's own cost, not a measurement."""
    triples = _pages_triples(pages)
    ents, edges = derived_tables(triples)
    tset = set(triples)
    return {
        "triple_hashes": sorted(row_hash(r) for r in tset),
        "triples": digest(tset),
        "entities": digest(ents),
        "edges": digest(edges),
    }


def kernel_layer(pages: list[tuple[str, bytes]]) -> dict[str, float]:
    """Per-page cost of each phase-1 kernel, and the single-process
    baseline (kernels + refsem phases 2–3), over ``pages``."""
    t_ext = t_chunk = t_trip = 0.0
    n_trip = 0
    for _url, html in pages:
        t0 = time.perf_counter()
        text = extract_text(html)
        t1 = time.perf_counter()
        chunks = chunk_text(text, max_length=100, overlap=20)
        t2 = time.perf_counter()
        for c in chunks:
            n_trip += len(extract_triples(c))
        t3 = time.perf_counter()
        t_ext += t1 - t0
        t_chunk += t2 - t1
        t_trip += t3 - t2
    t0 = time.perf_counter()
    _pages_triples(pages)
    t_base = time.perf_counter() - t0
    n = len(pages)
    return {
        "kernels.extract_text.us_per_page": 1e6 * t_ext / n,
        "kernels.chunk_text.us_per_page": 1e6 * t_chunk / n,
        "kernels.extract_triples.us_per_page": 1e6 * t_trip / n,
        "kernels.triples_per_page": n_trip / n,
        "baseline.single_process_pages_per_s": n / t_base,
    }
