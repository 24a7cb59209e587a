"""Gopher/RefinedWeb repetition signals for one document.

``textstats.repetition_signals`` runs :func:`repetition_signals_doc` per
document inside one Arrow-batched UDF; the ``doc_gopher`` driver query
checks it against a SQL replay.  Strings follow Spark's semantics, which
differ from Python's defaults:

* whitespace is Java's ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]``: U+00A0, U+3000
  and the other Unicode spaces do not split;
* a line or paragraph is trimmed of U+0020 only (Spark ``trim``), so a
  tab-indented line differs from the unindented one;
* lengths count code points;
* every fraction is rounded like Spark's ``round(x, 6)``: HALF_UP on the
  shortest decimal representation of the double (1/128 -> 0.007813,
  where Python's ``round`` gives 0.007812);
* the top n-gram is the argmax by (count, length, string).

Null text is an empty document: 0 words and every signal 0.0.
"""

from __future__ import annotations

import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_PARA = re.compile(r"\n[ \t\n\x0b\f\r]*\n")
_SIX = Decimal("0.000001")


def round6(x: float) -> float:
    """Spark ``round(x, 6)`` of a finite double."""
    return float(Decimal(repr(x)).quantize(_SIX, rounding=ROUND_HALF_UP))


def _dup_fracs(parts: list[str]) -> tuple[float, float]:
    """(repeated occurrences / all, chars in repeats / all chars) over
    the non-empty space-trimmed parts."""
    counts = Counter(t for t in (p.strip(" ") for p in parts) if t)
    if not counts:
        return 0.0, 0.0
    total = dup = total_ch = dup_ch = 0
    for tok, c in counts.items():
        n = len(tok)
        total += c
        dup += c - 1
        total_ch += c * n
        dup_ch += (c - 1) * n
    return round6(dup / total), round6(dup_ch / total_ch)


def repetition_signals_doc(text: str | None,
                           ngram_ns: tuple[int, ...] = (2, 3, 4)) -> tuple:
    """``(n_words, dup_line_frac, dup_line_char_frac, dup_para_frac,
    top{n}_char_frac for n in ngram_ns)`` of one document."""
    text = text or ""
    n_words = sum(1 for w in _WS.split(text) if w)
    line_f, line_cf = _dup_fracs(text.split("\n"))
    para_f, _ = _dup_fracs(_PARA.split(text))
    n_chars = max(len(text), 1)
    words = [w for w in _WS.split(text.lower()) if w]
    tops = []
    for n in ngram_ns:
        grams = Counter(" ".join(words[i:i + n])
                        for i in range(len(words) - n + 1))
        if not grams:
            tops.append(0.0)
            continue
        g, c = max(grams.items(), key=lambda kv: (kv[1], len(kv[0]), kv[0]))
        tops.append(round6(c * len(g) / n_chars))
    return (n_words, line_f, line_cf, para_f, *tops)
