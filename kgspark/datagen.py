"""Deterministic synthetic `pages` corpus generator (FIXTURES.md T1).

Schema (BASELINE.json input_hint):
  (url string, warc_ts timestamp, html binary, text string, lang string)

Content is built so every pipeline branch fires:
  * entity variants: case ("AI"/"ai"), stopword ("the steam engine"),
    subset-phrase ("capitalism"/"capitalist decay"), shared-stem,
    containment ("engine"/"steam engine") → phases 2-3 all exercised
  * SVO sentences from the extraction lexicon; A→B and B→C chains in one
    doc → transitive inference fires
  * Chinese sentences (CJK word counting + zh extraction path)
  * sentence enders 。!?！？, an ellipsis case, a quote-terminated case
  * at least one sentence longer than chunk_size words (forced split)
  * Zipf-ish domain skew (hot-domain salting fixture)
  * warc_ts spread over 3 "years" (per-period analytics)

Seeded ``random.Random`` only — byte-identical output for a given (seed,
n_pages).  html is built with render_page so extract_text(html) == text
holds per url (the per-row invariant).
"""

from __future__ import annotations

import datetime as dt
import random

from kgspark.kernels.html_extract import render_page

ENTITIES = [
    "steam engine", "the steam engine", "Steam Engine", "capitalism",
    "capitalist decay", "industrial revolution", "the industrial revolution",
    "AI", "ai", "artificial intelligence", "machine learning",
    "policy framework", "housing policy", "innovation hub", "innovation",
    "technology sector", "technology", "education reform", "education system",
    "green energy", "energy transition", "public transport", "transport network",
    "James Watt", "labor movement", "urbanization", "factory system",
]

VERBS = [
    "led to", "supports", "promotes", "develops", "includes", "requires",
    "is a", "is part of", "was invented by", "improves", "expands",
    "creates", "enables", "powers", "transforms", "precedes",
]

ZH_SUBJECTS = ["香港政府", "特区政府", "中央政府", "教育局", "科技园", "创新署"]
ZH_VERBS = ["提出", "支持", "促进", "推动", "发展", "包括", "建设", "加强", "改善", "提供"]
ZH_OBJECTS = ["新政策", "创新科技", "教育改革", "医疗服务", "住房计划", "经济发展", "人才培养", "基础设施"]

FILLER = (
    "meanwhile the committee reviewed several proposals during the quarterly "
    "session and noted broad agreement on general principles without naming "
    "specific outcomes"
).split()

DOMAINS = (
    ["news.example"] * 40 + ["blog.example"] * 20 + ["gov.example"] * 10
    + [f"site{i}.example" for i in range(30)]
)

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _svo_sentence(rng: random.Random, ender: str = "。") -> str:
    s = rng.choice(ENTITIES)
    v = rng.choice(VERBS)
    o = rng.choice(ENTITIES)
    return f"{s} {v} {o}{ender}" if ender != "." else f"{s} {v} {o}."


def _chain_sentences(rng: random.Random) -> list[str]:
    a, b, c = rng.sample(ENTITIES, 3)
    v1, v2 = rng.choice(VERBS), rng.choice(VERBS)
    return [f"{a} {v1} {b}。", f"{b} {v2} {c}!"]


def _zh_sentence(rng: random.Random) -> str:
    return (
        f"{rng.choice(ZH_SUBJECTS)}{rng.choice(ZH_VERBS)}{rng.choice(ZH_OBJECTS)}"
        f"{rng.choice(['。', '！', '？'])}"
    )


def _filler_sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(FILLER) for _ in range(n)) + "?"


def make_doc(rng: random.Random, lang: str, chunk_size: int = 100) -> str:
    paras: list[str] = []
    n_paras = rng.randint(3, 8)
    for p in range(n_paras):
        sents: list[str] = []
        for _ in range(rng.randint(2, 6)):
            r = rng.random()
            if lang == "zh" or (lang == "mixed" and r < 0.4):
                sents.append(_zh_sentence(rng))
            elif r < 0.55:
                sents.append(_svo_sentence(rng, rng.choice(["。", "!", "?", "！", "？"])))
            elif r < 0.7:
                sents.extend(_chain_sentences(rng))
            elif r < 0.8:
                sents.append(_svo_sentence(rng, "..."))
            elif r < 0.88:
                s = rng.choice(ENTITIES)
                sents.append(f'{s} {rng.choice(VERBS)} "{rng.choice(ENTITIES)}"!"')
            else:
                sents.append(_filler_sentence(rng, rng.randint(6, 18)))
        paras.append(" ".join(sents))
    # one oversize sentence per ~4th doc → forced-split branch
    if rng.random() < 0.25:
        paras.append(_filler_sentence(rng, chunk_size + 20))
    return "\n\n".join(paras)


def generate_rows(n_pages: int, seed: int = 42) -> list[tuple]:
    """Rows of (url, warc_ts, html, text, lang)."""
    rng = random.Random(seed)
    rows = []
    langs = ["en", "zh", "mixed"]
    for i in range(n_pages):
        lang = langs[i % 3]
        domain = rng.choice(DOMAINS)
        url = f"https://{domain}/page/{i:08d}"
        ts = _EPOCH + dt.timedelta(
            days=365 * (i % 3) + (i * 7) % 360, seconds=(i * 137) % 86400
        )
        text = make_doc(rng, lang)
        html = render_page(text, title=f"doc {i}", lang=lang)
        rows.append((url, ts.replace(tzinfo=None), html, text, lang))
    return rows


def write_pages(spark, path: str, n_pages: int, seed: int = 42, partitions: int = 8):
    from kgspark.pipeline.ingest import PAGES_SCHEMA

    rows = generate_rows(n_pages, seed)
    df = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(partitions)
    df.write.mode("overwrite").parquet(path)
    return path
