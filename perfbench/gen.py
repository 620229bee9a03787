"""Seeded corpus and query generator for the benchmark.

Everything here is a pure function of its spec and seed, so the same seed
gives byte-identical inputs on every run and every machine with the same
numpy. The program under test only ever sees the generated rows.

The shapes follow the repository's own fixture rules (FIXTURES.md sections
1-2, as implemented by ``unichem2index_spark.synth``), scaled from its
31-word vocabulary to a realistic one:

* tokens are drawn Zipf(1.1) by rank (``synth._zipf_weights``) over a
  vocabulary whose top ranks are the stopword-class heavy terms (synth puts
  "the" and "a" first); the stopword share of the text follows from Zipf's
  law rather than being set;
* document length ~ lognormal(3.3, 0.8) clipped to 5-500 tokens
  (``synth.gen_webtext``);
* a query has 1-5 terms, uniform: one heavy term, the rest drawn uniformly,
  without repeats, from the other vocabulary terms present in the corpus
  (``synth.gen_queries``); k = 10, the fixture's query k, with k = 1 and
  k = 100 as edge cases (``edge_queries``).

Content terms are consonant-vowel syllable strings of at least two
syllables, so they never collide with a stopword and match the engine's
``[a-z0-9]+`` tokenizer as single tokens. The seed permutes which content
term holds which Zipf rank.
"""

from __future__ import annotations

import datetime as dt
import html
from dataclasses import dataclass

import numpy as np

STOPWORDS = (
    "the", "of", "and", "to", "in", "is", "that", "for", "it", "with",
    "as", "was", "on", "by", "this", "are", "an", "be", "at", "from",
)
_CONS = "bdfgklmnprstvz"
_VOWS = "aeiou"
_SYLL = [c + v for c in _CONS for v in _VOWS]
LANGS = ("en", "de", "es", "fr", "zh")
_BASE_TS = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab: int  # distinct content terms, ranked after the stopwords
    zipf_s: float = 1.1  # Zipf exponent over all term ranks
    len_mu: float = 3.3  # doc length ~ lognormal(mu, sigma), clipped
    len_sigma: float = 0.8
    min_len: int = 5
    max_len: int = 500
    n_hosts: int = 400


@dataclass(frozen=True)
class QuerySpec:
    max_terms: int = 5  # terms per query ~ uniform 1..max_terms
    k: int = 10
    edge_ks: tuple = (1, 100)


def term(i: int) -> str:
    """The i-th content term: i in base 70, one syllable per digit, padded
    to at least two digits (distinct for distinct i)."""
    out = []
    while i or len(out) < 2:
        i, r = divmod(i, len(_SYLL))
        out.append(_SYLL[r])
    return "".join(reversed(out))


def vocabulary(spec: CorpusSpec, seed: int) -> list[str]:
    """All terms ordered by Zipf rank (rank 0 = most frequent): the
    stopwords, then the content terms in a seeded order."""
    words = [term(i) for i in range(spec.vocab)]
    order = np.random.default_rng([seed, 1]).permutation(spec.vocab)
    return list(STOPWORDS) + [words[j] for j in order]


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def render_html(words: list[str], i: int) -> bytes:
    """HTML page whose extracted text tokenizes to exactly ``words``:
    script/style/comment noise outside the body, the text split across two
    paragraphs, and a title the body rule strips."""
    cut = len(words) // 2
    p1, p2 = " ".join(words[:cut]), " ".join(words[cut:])
    return (
        f"<html><head><title>page {i}</title>"
        "<script>var x = 1 < 2;</script><style>.c { color: red; }</style>"
        "</head><body><!-- nav -->"
        f"<p>{html.escape(p1)}</p>\n<p>{html.escape(p2)}</p>"
        "</body></html>"
    ).encode()


@dataclass
class Doc:
    url: str
    warc_ts: dt.datetime
    lang: str
    words: list[str]

    @property
    def host(self) -> str:
        return self.url.split("/")[2]

    def row(self, i: int) -> tuple:
        """A WEBTEXT_SCHEMA row: (url, warc_ts, html, text, lang)."""
        text = " ".join(self.words)
        return (self.url, self.warc_ts, render_html(self.words, i), text, self.lang)


def gen_docs(
    spec: CorpusSpec, seed: int, stream: int, n: int, url_ids: list[int] | None = None,
    ts_offset_s: int = 0,
) -> list[Doc]:
    """``n`` documents from RNG stream ``stream`` of ``seed``.

    ``url_ids`` (length ``n``) names each doc's url slot; by default slots
    ``stream * 10**7 + j``. Reusing a slot across calls is an upsert of that
    url. ``ts_offset_s`` shifts warc_ts so later batches are newer."""
    rng = np.random.default_rng([seed, 2, stream])
    vocab = vocabulary(spec, seed)
    cdf = _zipf_cdf(len(vocab), spec.zipf_s)
    lens = np.clip(
        rng.lognormal(spec.len_mu, spec.len_sigma, n).astype(np.int64),
        spec.min_len, spec.max_len,
    )
    total = int(lens.sum())
    ranks = np.searchsorted(cdf, rng.random(total), side="right")
    hosts = rng.integers(0, spec.n_hosts, n)
    if url_ids is None:
        url_ids = [stream * 10**7 + j for j in range(n)]
    docs, pos = [], 0
    for j in range(n):
        L = int(lens[j])
        words = [vocab[r] for r in ranks[pos:pos + L]]
        pos += L
        uid = url_ids[j]
        docs.append(
            Doc(
                url=f"https://site{int(hosts[j])}.example/p/{uid}",
                warc_ts=_BASE_TS + dt.timedelta(seconds=ts_offset_s + uid % 86400),
                lang=LANGS[uid % len(LANGS)],
                words=words,
            )
        )
    return docs


def gen_queries(
    qspec: QuerySpec, seed: int, stream: int, n: int, present: set[str],
    k: int | None = None,
) -> list[dict]:
    """``n`` queries ``{"query_id", "terms", "k"}``: one stopword, then
    distinct terms drawn uniformly from the other ``present`` terms (those
    that occur in the corpus), 1..max_terms terms in all."""
    rng = np.random.default_rng([seed, 3, stream])
    heavy = [t for t in STOPWORDS if t in present]
    pool = sorted(t for t in present if t not in STOPWORDS)
    out = []
    for qid in range(n):
        n_terms = int(rng.integers(1, qspec.max_terms + 1))
        terms = [heavy[int(rng.integers(0, len(heavy)))]]
        terms += [pool[int(j)] for j in rng.choice(len(pool), n_terms - 1, replace=False)]
        out.append({"query_id": qid, "terms": terms, "k": qspec.k if k is None else k})
    return out


def edge_queries(
    qspec: QuerySpec, seed: int, stream: int, n: int, present: set[str],
) -> list[dict]:
    """``n`` queries for each edge-case k, numbered after one another."""
    out = []
    for i, k in enumerate(qspec.edge_ks):
        for q in gen_queries(qspec, seed, stream * 10 + i, n, present, k):
            out.append(q | {"query_id": len(out)})
    return out
