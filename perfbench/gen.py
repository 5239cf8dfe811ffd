"""Seeded input generators. Every function is a pure function of its
arguments: the same seed gives the same inputs on every machine.

Text: documents are drawn word by word from a Zipf law over a vocabulary
of letter strings. The top ranks are English stopwords, so the quality
and `en` language filters keep the documents; the rest are random strings
over English letter frequencies, so the char-3-gram vocabulary has
natural size and skew (no `w123`-style tokens, whose tiny trigram
vocabulary makes LSH banding degenerate to all-pairs).

Tables: rows shaped like TPC-H `lineitem` and `orders` (same column
names, domains and value distributions as dbgen's), sampled by the seed.
"""

from __future__ import annotations

import numpy as np

# English letter frequencies (per cent), a..z
_LETTER_P = np.array(
    [8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15, 0.77, 4.0, 2.4,
     6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074]
)
_LETTER_P = _LETTER_P / _LETTER_P.sum()
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# Zipf head: English stopwords ranked roughly by corpus frequency
_HEAD = ["the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
         "with", "as", "was", "on", "be", "this", "are", "or", "an", "not"]
# words of the other language profiles: kept out of the random tail so
# language detection stays `en`
_RESERVED = {
    "der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu",
    "el", "la", "los", "las", "es", "no", "con", "una", "que", "de",
    "le", "les", "et", "est", "pas", "avec", "des",
    "shi", "bu", "zai", "ren", "you", "wo", "ta", "zhe",
}

VOCAB_SIZE = 30_000
ZIPF_S = 1.05


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """`size` distinct words: the stopword head, then letter strings of
    3-11 letters."""
    rng = np.random.default_rng([seed, 1])
    words = list(_HEAD)
    seen = set(words) | _RESERVED
    while len(words) < size:
        n = int(rng.integers(3, 12))
        w = "".join(rng.choice(_LETTERS, size=n, p=_LETTER_P))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(size: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return w / w.sum()


class TextSource:
    """Draws documents from one seeded vocabulary."""

    def __init__(self, seed: int):
        self.vocab = np.array(vocabulary(seed), dtype=object)
        self.cdf = np.cumsum(zipf_weights(len(self.vocab)))

    def words(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return list(self.vocab[np.minimum(idx, len(self.vocab) - 1)])

    def document(self, rng: np.random.Generator, mean_words: int) -> list[str]:
        n = max(8, int(rng.normal(mean_words, mean_words * 0.25)))
        return self.words(rng, n)

    def near_copy(
        self, rng: np.random.Generator, words: list[str], edit_rate: float
    ) -> list[str]:
        """A copy of `words` with `edit_rate` of its positions edited: each
        edit substitutes, deletes or inserts one word."""
        out = list(words)
        n_edits = max(1, int(round(edit_rate * len(words))))
        for _ in range(n_edits):
            i = int(rng.integers(0, len(out)))
            kind = int(rng.integers(0, 3))
            if kind == 0:
                out[i] = self.words(rng, 1)[0]
            elif kind == 1 and len(out) > 8:
                del out[i]
            else:
                out.insert(i, self.words(rng, 1)[0])
        return out


def char_3grams(text: str) -> set[str]:
    """The shingle set the dedup operators hash: lowercased char 3-grams."""
    t = text.lower()
    return {t[i:i + 3] for i in range(len(t) - 2)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


class Corpus:
    """Documents with planted duplicates. `planted` maps a copy's id to its
    source's id; a source always has the smaller id, so near-duplicate
    removal (which drops the larger id of a pair) must drop the copy."""

    def __init__(self):
        self.ids: list[int] = []
        self.texts: list[str] = []
        self.planted: dict[int, int] = {}

    def add(self, doc_id: int, text: str, source: int | None = None) -> None:
        self.ids.append(doc_id)
        self.texts.append(text)
        if source is not None:
            self.planted[doc_id] = source

    def text_of(self) -> dict[int, str]:
        return dict(zip(self.ids, self.texts))


def planted_corpus(
    src: TextSource,
    rng: np.random.Generator,
    first_id: int,
    n_docs: int,
    mean_words: int,
    near_dup_frac: float,
    exact_dup_frac: float,
    edit_rate: float,
    min_jaccard: float,
    sources: Corpus | None = None,
) -> Corpus:
    """`n_docs` documents with ids first_id.. in order. A `near_dup_frac`
    share are near copies (exact 3-gram Jaccard ≥ `min_jaccard` with their
    source, checked here) and an `exact_dup_frac` share exact copies. Each
    copy's source is an earlier document of this corpus, or, when `sources`
    is given, a document of `sources` (an existing index)."""
    out = Corpus()
    for k in range(n_docs):
        doc_id = first_id + k
        pool = sources if sources is not None else out
        u = rng.random()
        if pool.ids and u < near_dup_frac + exact_dup_frac:
            j = int(rng.integers(0, len(pool.ids)))
            s_id, s_text = pool.ids[j], pool.texts[j]
            if u < exact_dup_frac:
                out.add(doc_id, s_text, s_id)
                continue
            s_words = s_text.split(" ")
            s_set = char_3grams(s_text)
            # halve the edit rate until the copy is similar enough; a
            # source so short that one edit is too much is copied exactly
            text, rate = s_text, edit_rate
            for _ in range(8):
                edited = " ".join(src.near_copy(rng, s_words, rate))
                if jaccard(char_3grams(edited), s_set) >= min_jaccard:
                    text = edited
                    break
                rate /= 2
            out.add(doc_id, text, s_id)
        else:
            out.add(doc_id, " ".join(src.document(rng, mean_words)))
    return out


# ---------------------------------------------------------------------------
# TPC-H shaped rows
# ---------------------------------------------------------------------------

RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)


def lineitem(seed: int, n: int) -> dict[str, np.ndarray]:
    """dbgen domains: quantity 1..50, retail price 900..2099 per part,
    discount 0..0.10, tax 0..0.08 (both in steps of 0.01), flags A/N/R and
    F/O."""
    rng = np.random.default_rng([seed, 2])
    q = rng.integers(1, 51, n).astype(np.float64)
    retail = np.round(rng.uniform(900.0, 2099.0, n), 2)
    return {
        "l_quantity": q,
        "l_extendedprice": np.round(q * retail, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": RETURNFLAGS[rng.integers(0, 3, n)],
        "l_linestatus": LINESTATUS[rng.integers(0, 2, n)],
    }


def orders(seed: int, n: int) -> dict[str, np.ndarray]:
    """o_totalprice follows dbgen's right-skewed sum-of-lineitems shape;
    o_orderstatus F is drawn with a logistic dependence on price and
    priority, so the binomial GLM has a signal to fit."""
    rng = np.random.default_rng([seed, 3])
    n_lines = rng.integers(1, 8, n)
    price = np.round(rng.gamma(2.0, 75_000.0, n) * n_lines / 4.0, 2)
    prio = rng.integers(0, 5, n)
    eta = -0.5 + 2.5e-6 * price + 0.15 * prio
    is_f = rng.random(n) < 1.0 / (1.0 + np.exp(-eta))
    return {
        "o_totalprice": price,
        "o_orderpriority": PRIORITIES[prio],
        "o_orderstatus": np.where(is_f, "F", "O"),
        "o_custkey": rng.integers(1, 15_001, n),
    }
