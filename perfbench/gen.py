"""Seeded input generators for the benchmark.

Everything a workload feeds the program comes from here, as a pure function
of ``(seed, size)``: the webtext corpus and the query streams.  The same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as _dt
import zlib
from typing import List

import numpy as np
import pandas as pd

_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "cl", "dr", "gr", "pl", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u"]
_SYL = [o + v for o in _ONSETS for v in _VOWELS]  # 110 syllables
LANGS = ["en", "de", "fr", "es", "it"]
_LANG_P = np.array([0.55, 0.15, 0.12, 0.1, 0.08])
EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
MEAN_LEN = 60       # tokens per doc, log-normal around this
DUP_SHARE = 0.05    # docs that copy an earlier doc
VOCAB_S = 1.05      # Zipf exponent of word frequencies
QUERY_S = 1.1       # Zipf exponent of query popularity
STOPWORDS = ["the", "a", "of", "and", "in", "to", "is", "on", "for", "with"]


def word(i: int) -> str:
    """The i-th vocabulary word: base-110 syllables plus a consonant tail,
    so every index gives a distinct, stopword-free, stem-stable token."""
    out = []
    i += 110  # at least two syllables
    while i:
        i, r = divmod(i, len(_SYL))
        out.append(_SYL[r])
    return "".join(out) + "x"


class Vocab:
    """A Zipf vocabulary of ``size`` words; rank 0 is the most common."""

    def __init__(self, size: int):
        self.words = np.array([word(i) for i in range(size)], dtype=object)
        w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** VOCAB_S
        self.cdf = np.cumsum(w / w.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)),
                          len(self.words) - 1)


def _rare_tokens(rng: np.random.Generator, n: int) -> List[str]:
    """Tokens that are almost surely unique to one doc (ids, hashes): the
    long tail that makes a web vocabulary grow with the corpus."""
    return [f"q{v:x}" for v in rng.integers(1 << 40, 1 << 44, n)]


def _html(text: str) -> bytes:
    from pysearch.corpus import wrap_html

    return wrap_html(text)


def webtext(seed: int, n_docs: int, vocab: Vocab, *,
            rare_per_doc: float = 0.0) -> pd.DataFrame:
    """A webtext table ``(url, warc_ts, html, text, lang)``.

    Doc lengths are log-normal around ``MEAN_LEN`` tokens; tokens are
    Zipf-distributed over ``vocab`` plus ``rare_per_doc`` unique tail
    tokens per doc on average.  ``DUP_SHARE`` of the docs copy an earlier
    doc: half exactly (dropped by the build's content dedupe), half with
    two tokens changed (near duplicates, which stay)."""
    rng = np.random.default_rng([seed, n_docs, 0])
    lens = np.clip(rng.lognormal(np.log(MEAN_LEN), 0.6, n_docs), 4,
                   8 * MEAN_LEN)
    lens = lens.astype(np.int64)
    ids = vocab.draw(rng, int(lens.sum()))
    words = vocab.words[ids]
    n_rare = rng.poisson(rare_per_doc, n_docs) if rare_per_doc else None
    texts: List[str] = []
    off = 0
    for i in range(n_docs):
        toks = list(words[off:off + lens[i]])
        off += lens[i]
        if n_rare is not None and n_rare[i]:
            toks += _rare_tokens(rng, int(n_rare[i]))
        texts.append(" ".join(toks))
    n_dup = int(n_docs * DUP_SHARE)
    if n_docs > 1 and n_dup:
        dst = rng.choice(np.arange(1, n_docs), size=n_dup, replace=False)
        for j, d in enumerate(sorted(int(x) for x in dst)):
            src = int(rng.integers(0, d))
            if j % 2 == 0:
                texts[d] = texts[src]
            else:
                toks = texts[src].split(" ")
                for p in rng.integers(0, len(toks), 2):
                    toks[p] = vocab.words[int(vocab.draw(rng, 1)[0])]
                texts[d] = " ".join(toks)
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=_LANG_P)]
    return pd.DataFrame({
        "url": [f"https://s{i % 97}.example/base/{i}" for i in range(n_docs)],
        "warc_ts": [EPOCH + _dt.timedelta(seconds=i) for i in range(n_docs)],
        "html": [_html(t) for t in texts],
        "text": texts,
        "lang": langs,
    })


def zipf_stream(rng: np.random.Generator, pool: List, n: int) -> List:
    """``n`` draws from ``pool`` with Zipf popularity, so popular entries
    repeat the way a real query log does."""
    w = 1.0 / np.arange(1, len(pool) + 1, dtype=np.float64) ** QUERY_S
    idx = rng.choice(len(pool), n, p=w / w.sum())
    return [pool[i] for i in idx]


def query_pool(seed: int, vocab: Vocab, n: int, terms=(1, 4),
               ranks=(20, 3000)) -> List[str]:
    """``n`` distinct query strings with words drawn from the vocabulary
    ranks ``[lo, hi)`` (mid-frequency words, as users type).  Query ``i``
    has ``terms[0] + i % span`` words, so lengths are spread evenly over
    the pool and over its most popular entries, whatever the seed."""
    rng = np.random.default_rng([seed, 31337, n])
    lo, hi = ranks[0], min(ranks[1], len(vocab.words))
    span = terms[1] - terms[0] + 1
    out, seen = [], set()
    while len(out) < n:
        k = terms[0] + len(out) % span
        q = " ".join(vocab.words[rng.integers(lo, hi, k)])
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def arrivals(seed: int, n: int, vocab: Vocab, corpus: pd.DataFrame,
             n_dup: int) -> pd.DataFrame:
    """An arrival batch of ``n`` docs for an index built from ``corpus``.
    ``n_dup`` rows reuse an indexed url and ``n_dup`` more an indexed text
    under a new url, so the append's url and content-hash anti-joins drop
    them; the generator's own duplicates exercise the in-batch dedupe."""
    batch = webtext(seed + 7919, n, vocab)
    batch["url"] = batch["url"].str.replace("/base/", "/new/", regex=False)
    batch["warc_ts"] = batch["warc_ts"] + _dt.timedelta(days=1)
    rng = np.random.default_rng([seed, 41])
    src = rng.choice(len(corpus), 2 * n_dup, replace=False)
    for j, s in enumerate(int(x) for x in src):
        if j < n_dup:
            batch.loc[j, "url"] = corpus["url"].iloc[s]
        else:
            batch.loc[j, "html"] = corpus["html"].iloc[s]
            batch.loc[j, "text"] = corpus["text"].iloc[s]
    return batch


def documents(seed: int, n: int, vocab: Vocab) -> pd.DataFrame:
    """The curation ops' ``documents`` table ``(doc_id, text, lang, source,
    n_chars)``; the webtext generator's exact and near duplicates give the
    dedup ops pairs to find.  One vocabulary word in ten is followed by an
    English stopword wherever it occurs (about a fifth of the tokens end
    up stopwords, as in real text), so the filters that score the
    stopword share keep docs; the stopword follows from the word alone,
    so duplicates stay duplicates."""
    w = webtext(seed + 104729, n, vocab)
    texts = []
    for t in w["text"]:
        out = []
        for tok in t.split(" "):
            out.append(tok)
            h = zlib.crc32(tok.encode())
            if h % 10 == 0:
                out.append(STOPWORDS[h // 10 % len(STOPWORDS)])
        texts.append(" ".join(out))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": w["lang"],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pd.Series(texts).str.len().astype(np.int64),
    })
