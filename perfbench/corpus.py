"""Seeded input corpora for the benchmark workloads.

Both corpora are written as ``PAGES_SCHEMA`` parquet (url, warc_ts, html,
text, lang) so the engine sees nothing but a pages table.

* :func:`write_parity_corpus` — pages from ``kgspark.datagen.generate_rows``
  (the engine's fixture generator, reference-parity content).
* :func:`scale_pages` / :func:`write_scale_corpus` — the corpus-scale mix:
  about a quarter exact-duplicate pages under distinct urls, one hot
  domain, a long-tail entity vocabulary of ~10^5 surface forms and a few
  templated spam pages for the quality gate.  It returns the planted
  duplicate groups and spam urls so the output check can prove each one
  was handled.
"""

from __future__ import annotations

import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq

from kgspark import datagen
from kgspark.kernels.html_extract import render_page

PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def write_pages(rows: list[tuple], path: str, files: int = 8) -> None:
    """Write (url, warc_ts, html, text, lang) rows as ``files`` parquet
    files under directory ``path``."""
    import os

    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // files)
    for k in range(files):
        part = rows[k * per:(k + 1) * per]
        if not part:
            break
        cols = list(zip(*part))
        ts = [t.replace(tzinfo=dt.timezone.utc) for t in cols[1]]
        table = pa.table(
            [list(cols[0]), ts, list(cols[2]), list(cols[3]), list(cols[4])],
            schema=PAGES_ARROW)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def write_parity_corpus(path: str, n_pages: int, seed: int) -> list[tuple]:
    rows = datagen.generate_rows(n_pages, seed=seed)
    write_pages(rows, path)
    return rows


# --- scale_crawl generator ---------------------------------------------------

_ONSETS = ["b", "br", "c", "ch", "d", "dr", "f", "g", "gr", "h", "j", "k",
           "kl", "l", "m", "n", "p", "pr", "qu", "r", "s", "sh", "st", "t",
           "tr", "v", "w", "z"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou", "y"]
_CODAS = ["", "n", "r", "l", "s", "x", "th", "nd", "rk", "m"]
SUFFIXES = ["Group", "Holdings", "Council", "Institute", "Partners",
            "Foundation", "Agency", "Labs", "Works", "Trust"]
VERBS = ["supports", "promotes", "develops", "includes", "requires",
         "improves", "expands", "proposes", "provides", "creates",
         "launches", "strengthens", "establishes", "powers", "transforms",
         "enables", "uses", "builds", "funds", "governs", "regulates",
         "produces", "contains", "depends on", "consists of", "leads to",
         "results in", "is part of"]
FILLER = ("analysts expect further detail once the quarterly review of "
          "regional programmes has concluded and budgets are settled").split()
HOT_DOMAIN = "hot.example"
BASE_NAMES = 25_000          # × 4 surface forms each = the vocabulary
DUP_SHARE = 0.25             # share of pages that are planted copies
SPAM_SHARE = 0.04            # share of templated spam pages
HOT_SHARE = 0.30             # share of pages on HOT_DOMAIN
_EPOCH = dt.datetime(2024, 1, 1)


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS)
                   for _ in range(rng.randint(2, 3))).capitalize()


def vocabulary(seed: int) -> list[tuple[str, ...]]:
    """``BASE_NAMES`` distinct two-word names, each with its four surface
    forms: title case, lower case, with a leading article, with an
    organisation suffix."""
    rng = random.Random(f"vocab-{seed}")
    names: set[str] = set()
    out = []
    while len(out) < BASE_NAMES:
        name = f"{_word(rng)} {_word(rng)}"
        if name in names:
            continue
        names.add(name)
        out.append((name, name.lower(), f"the {name}",
                    f"{name} {rng.choice(SUFFIXES)}"))
    return out


def _zipf_index(rng: random.Random, n: int) -> int:
    # inverse-CDF draw from p(r) ∝ 1/(r + 8): a repeated head, a long tail
    u = rng.random()
    return min(n - 1, int((n + 8) ** u * 8 ** (1 - u)) - 8)


def _doc(rng: random.Random, vocab: list[tuple[str, ...]]) -> str:
    paras = []
    for _ in range(rng.randint(3, 5)):
        sents = []
        for _ in range(rng.randint(3, 6)):
            if rng.random() < 0.15:
                sents.append(" ".join(rng.choice(FILLER)
                                      for _ in range(rng.randint(8, 14))) + "?")
                continue
            s = rng.choice(vocab[_zipf_index(rng, len(vocab))])
            o = rng.choice(vocab[_zipf_index(rng, len(vocab))])
            sents.append(f"{s} {rng.choice(VERBS)} {o}{rng.choice('!?')}")
        paras.append(" ".join(sents))
    return "\n\n".join(paras)


def _spam(rng: random.Random, i: int) -> str:
    line = (f"limited offer {i} buy discount widgets today best prices "
            "guaranteed click the link now")
    return "\n".join([line] * rng.randint(12, 20))


def scale_pages(n_pages: int, seed: int) -> tuple[list[tuple], dict]:
    """Rows plus the planted truth: ``{"dup_groups": [[winner, [losers]]],
    "spam": [urls], "hot_domain": str, "hot_pages": int}``.

    Winners are the min url of each identical-content group, the rule
    ``runner.dedup_pages`` applies."""
    rng = random.Random(f"scale-{seed}")
    vocab = vocabulary(seed)
    n_dup = int(n_pages * DUP_SHARE)
    n_spam = int(n_pages * SPAM_SHARE)
    domains = [f"site{k:03d}.example" for k in range(200)]
    urls: set[str] = set()

    def url() -> str:
        while True:
            dom = HOT_DOMAIN if rng.random() < HOT_SHARE else rng.choice(domains)
            u = f"https://{dom}/a/{rng.getrandbits(40):010x}"
            if u not in urls:
                urls.add(u)
                return u

    def ts(i: int) -> dt.datetime:
        return _EPOCH + dt.timedelta(days=i % 1000, seconds=(i * 7919) % 86400)

    rows: list[tuple] = []
    originals = []
    for i in range(n_pages - n_dup):
        if i < n_spam:
            text = _spam(rng, i)
        else:
            text = _doc(rng, vocab)
        html = render_page(text, title=f"article {i}", lang="en")
        row = (url(), ts(i), html, text, "en")
        rows.append(row)
        if i >= n_spam:
            originals.append(row)
    groups: dict[bytes, list[str]] = {}
    for j in range(n_dup):
        src = rng.choice(originals)
        groups.setdefault(src[2], [src[0]])
        u = url()
        groups[src[2]].append(u)
        rows.append((u, ts(n_pages + j), src[2], src[3], "en"))
    rng.shuffle(rows)
    dup_groups = []
    for members in groups.values():
        members = sorted(members)
        dup_groups.append([members[0], members[1:]])
    dup_groups.sort()
    truth = {
        "dup_groups": dup_groups,
        "spam": sorted(r[0] for r in rows if r[3].startswith("limited offer")),
        "hot_domain": HOT_DOMAIN,
        "hot_pages": sum(r[0].startswith(f"https://{HOT_DOMAIN}/") for r in rows),
    }
    return rows, truth


def write_scale_corpus(path: str, n_pages: int, seed: int) -> dict:
    rows, truth = scale_pages(n_pages, seed)
    write_pages(rows, path)
    return truth
