"""Seeded corpus and query-stream generator owned by the benchmark.

Everything is drawn in one process from ``numpy.random.SeedSequence(seed)``:
each property (doc length, stopword flag, term draw, stopword pick, query
pool, query stream) has its own spawned stream, so no draw is ever reused as
another property's randomness. The same seed gives
byte-identical inputs.

* vocabulary: pronounceable pseudo-words, Zipf(``ZIPF_S``) over rank, so a
  few head terms carry most postings and the tail is rare. The vocabulary
  and the popularity order of the query families are the same for every
  seed (a language does not change between crawls); the seed draws the
  documents, the query terms and the query stream;
* doc lengths: LogNormal(``LEN_MU``, ``LEN_SIGMA``) tokens, clipped;
* ``STOP_FRAC`` of token positions are English stopwords (dropped by the
  analyzer but they leave position holes, as on real text).

The shapes follow common models of text (Zipf's law for word frequency,
log-normal document lengths); the parameter values themselves are unverified
assumptions, not fitted to any corpus (README.md lists them).

Phrase and proximity queries are taken from bigrams that occur in the
generated corpus, so they always match (see ``query_pool``).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = 2_000
ZIPF_S = 1.07
LEN_MU = 4.2
LEN_SIGMA = 0.7
LEN_MIN, LEN_MAX = 4, 1200
STOP_FRAC = 0.25
STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "z", "br", "cr", "dr", "gr", "pl", "st", "tr", "sk"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
_CODAS = ["", "", "", "n", "r", "s", "l", "x", "m"]

# stream ids, one per independent property (index 5 is unused; renumbering
# would change every seed's inputs)
_S_VOCAB, _S_LEN, _S_STOP, _S_TERM, _S_STOPPICK = range(5)
_S_QPOOL, _S_QSTREAM = 6, 7


def _streams(seed: int, tag: int) -> "list[np.random.Generator]":
    """Eight independent generators for (seed, tag); ``tag`` separates
    corpora drawn under one seed."""
    ss = np.random.SeedSequence([int(seed), int(tag)])
    return [np.random.Generator(np.random.PCG64(s)) for s in ss.spawn(8)]


def make_vocab() -> np.ndarray:
    """``VOCAB`` distinct lowercase words (rank order = popularity order)."""
    rng = _streams(0, 0)[_S_VOCAB]
    stops = set(STOPWORDS)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < VOCAB:
        n_syl = int(rng.integers(2, 5))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _NUCLEI[rng.integers(len(_NUCLEI))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if w not in seen and w not in stops:
            seen.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w / w.sum())


class Corpus:
    """Token-level generator over one vocabulary."""

    def __init__(self, seed: int):
        self.seed = int(seed)
        self.vocab = make_vocab()
        self.cdf = _zipf_cdf()

    def docs(self, n: int, tag: int) -> pd.DataFrame:
        """``n`` pages as (url, text)."""
        g = _streams(self.seed, tag)
        lens = np.clip(
            np.rint(g[_S_LEN].lognormal(LEN_MU, LEN_SIGMA, n)), LEN_MIN, LEN_MAX
        ).astype(np.int64)
        total = int(lens.sum())
        is_stop = g[_S_STOP].random(total) < STOP_FRAC
        term_ids = np.searchsorted(self.cdf, g[_S_TERM].random(total))
        term_ids = np.minimum(term_ids, VOCAB - 1)
        stop_ids = g[_S_STOPPICK].integers(0, len(STOPWORDS), total)
        toks = np.where(is_stop, np.array(STOPWORDS, dtype=object)[stop_ids],
                        self.vocab[term_ids])
        texts = [" ".join(c) for c in np.split(toks, np.cumsum(lens)[:-1])]
        urls = [f"https://site{i % 997}.example/page/{i}" for i in range(n)]
        return pd.DataFrame({"url": urls, "text": texts})


def _tokens(text: str) -> "list[str]":
    return text.split(" ")


def bigrams(texts: "list[str]", stops: "set[str]") -> Counter:
    """Adjacent non-stopword pairs (no stopword between them)."""
    c: Counter = Counter()
    for t in texts:
        toks = _tokens(t)
        for a, b in zip(toks, toks[1:]):
            if a not in stops and b not in stops:
                c[(a, b)] += 1
    return c


def gapped_pairs(texts: "list[str]", stops: "set[str]") -> Counter:
    """Non-stopword pairs two positions apart (a sloppy-phrase target)."""
    c: Counter = Counter()
    for t in texts:
        toks = _tokens(t)
        for a, b in zip(toks, toks[2:]):
            if a not in stops and b not in stops:
                c[(a, b)] += 1
    return c


@dataclass(frozen=True)
class PoolQuery:
    name: str
    text: str          # parser syntax
    filter: str = ""   # optional FILTER clause, parser syntax


def query_pool(corpus: Corpus, sample_texts: "list[str]", seed: int) -> "list[PoolQuery]":
    """A seeded pool of 50 queries covering every query family.

    Terms come in three bands of the Zipf rank (hot: top 20, mid: the next
    10%, rare: the last half). Phrase and sloppy queries come from bigrams observed
    in ``sample_texts`` (a prefix of the served corpus), mid-frequency ones
    first so the phrase is neither trivial nor empty.
    """
    rng = _streams(seed, 0)[_S_QPOOL]
    v = corpus.vocab
    stops = set(STOPWORDS)

    def band(lo, hi):
        return str(v[int(rng.integers(lo, hi))])

    n = len(v)
    hot = lambda: band(0, 20)  # noqa: E731
    mid = lambda: band(n // 20, n // 20 + n // 10)  # noqa: E731
    rare = lambda: band(n // 2, n)  # noqa: E731
    bi = [p for p, n in bigrams(sample_texts, stops).most_common() if n >= 2]
    gp = [p for p, n in gapped_pairs(sample_texts, stops).most_common() if n >= 2]
    if len(bi) < 40 or len(gp) < 20:
        raise ValueError("corpus sample too small to draw phrase queries from")
    # skip the very head pairs (hot-hot) for half the phrases
    bi_pick = [bi[int(i)] for i in rng.choice(np.arange(len(bi) // 4, len(bi)), 6, replace=False)]
    bi_pick += [bi[int(i)] for i in rng.choice(np.arange(0, len(bi) // 4), 3, replace=False)]
    gp_pick = [gp[int(i)] for i in rng.choice(len(gp), 5, replace=False)]

    q: list[tuple[str, str, str]] = []
    for i in range(4):
        q.append(("term_hot", hot(), ""))
    for i in range(4):
        q.append(("term_mid", mid(), ""))
    for i in range(3):
        q.append(("term_rare", rare(), ""))
    for i in range(5):
        q.append(("or", f"{mid()} OR {hot()}", ""))
    for i in range(5):
        q.append(("and", f"{hot()} AND {mid()}", ""))
    for i in range(3):
        q.append(("and3", f"{hot()} AND {hot()} AND {mid()}", ""))
    for i in range(3):
        q.append(("not", f"{mid()} NOT {hot()}", ""))
    for a, b in bi_pick:
        q.append(("phrase", f'"{a} {b}"', ""))
    for a, b in gp_pick:
        q.append(("sloppy", f'"{a} {b}"~2', ""))
    for i in range(3):
        w = mid()
        q.append(("prefix", w[: max(3, len(w) - 3)] + "*", ""))
    for i in range(3):
        q.append(("fuzzy", mid() + "~1", ""))
    for i in range(3):
        # a multi-term filter: TermQ filters never enter the query cache
        q.append(("filter", mid(), hot()[:3] + "*"))
    return [PoolQuery(f"{kind}{i:02d}", text, flt) for i, (kind, text, flt) in enumerate(q)]


def popularity_order(pool: "list[PoolQuery]") -> np.ndarray:
    """Pool indices from most to least popular: one shuffled order, the same
    for every seed, so every seed serves the same mix of query families at
    each popularity rank. No family is placed at a chosen rank."""
    return _streams(0, 0)[_S_QSTREAM].permutation(len(pool))


def zipf_stream(seed: int, pool: "list[PoolQuery]", n: int, s: float) -> np.ndarray:
    """``n`` indices into the pool, Zipf(``s``) over ``popularity_order``."""
    rng = _streams(seed, 0)[_S_QSTREAM]
    order = popularity_order(pool)
    w = 1.0 / np.arange(1, len(pool) + 1, dtype=np.float64) ** s
    ranks = rng.choice(len(pool), n, p=w / w.sum())
    return order[ranks]
