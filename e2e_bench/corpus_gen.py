"""Seeded inputs for the benchmark: a Zipf corpus and the request streams.

Everything here is a pure function of the seed, so the same seed gives
byte-identical parquet and the same request dicts.  The engine under
test only ever sees the parquet file and the request dicts.

Corpus: the bench schema ``(doc_id, text, lang, source, n_chars)``;
``text`` is space-joined lowercase alpha tokens drawn from a Zipf
vocabulary (50k tokens, exponent 1.07, 20-200 tokens per doc).  With
that shape the head terms occur in nearly every doc while mid and tail
terms are selective, so the match sets differ in size by orders of
magnitude.

Docs come in contiguous doc-id runs, one per ``source`` (a crawl
ordered by site).  Each source is a topic: TOPIC_SHARE of a doc's
tokens come from the topic's own Zipf ranking of the vocabulary, the
rest from the shared one.  A term that ranks high in one topic then
sits mostly in that topic's doc-id range, which is the locality that
block-max metadata can skip on.  With every token drawn from one shared
ranking, each low-df term's single block spans the whole doc range and
bmw decoded 98-100% of its candidate blocks on any query mix.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_EXPONENT = 1.07
DOC_TOKENS = (20, 200)
LANGS = ("en", "de", "fr", "es", "it")
LANG_WEIGHTS = (0.5, 0.2, 0.15, 0.1, 0.05)
N_SOURCES = 8  # also the number of topics
TOPIC_SHARE = 0.5
# a term is topical for a source when this share of its docs are there
TOPICAL_SHARE = 0.8
K = 10  # top-k depth of every scored request

# serve: more distinct requests than Searcher's 256-entry plan cache
SERVE_POOL = 384
SERVE_POPULARITY_EXPONENT = 1.0


class Corpus:
    """Generated docs plus the term statistics the request generators
    draw from (df per vocabulary rank, bucketed into head/mid/tail)."""

    def __init__(self, seed: int, n_docs: int):
        self.seed = seed
        self.n_docs = n_docs
        self._rng = np.random.default_rng([seed, 1])
        self.vocab = _vocab(self._rng)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks ** -ZIPF_EXPONENT
        self._p = p / p.sum()
        # row t: the vocabulary ids of topic t, most frequent first
        self._topic_vocab = np.stack([self._rng.permutation(VOCAB_SIZE)
                                      for _ in range(N_SOURCES)])
        self._run = max(1, n_docs // N_SOURCES)
        self.table, self.doc_tokens = self.docs(n_docs, 0)
        topics = self.topic_of(np.arange(n_docs))
        df_by_topic = np.zeros((N_SOURCES, VOCAB_SIZE), dtype=np.int64)
        for t, d in zip(topics, self.doc_tokens):
            df_by_topic[t, np.unique(d)] += 1
        df = df_by_topic.sum(axis=0)
        self.df = df
        present = np.flatnonzero(df > 0)
        share = df[present] / n_docs
        self.head = present[share >= 0.3]
        self.mid = present[(share >= 0.01) & (share < 0.1)]
        self.tail = present[df[present] <= 5]
        # rank queries: per topic, its topical terms with df in [K, 1%)
        # ("rare": at least k postings, so the θ seed has a k-th score)
        # and in [1%, 10%) ("mid")
        topical = df_by_topic >= TOPICAL_SHARE * np.maximum(df, 1)
        self.topic_rare = [np.flatnonzero(row & (df >= K) & (df < 0.01 * n_docs))
                           for row in topical]
        self.topic_mid = [np.flatnonzero(row & (df >= 0.01 * n_docs) & (df < 0.1 * n_docs))
                          for row in topical]
        buckets = [self.head, self.mid, self.tail, *self.topic_rare, *self.topic_mid]
        if min(len(b) for b in buckets) == 0:
            raise ValueError(f"corpus of {n_docs} docs has an empty df bucket")

    def topic_of(self, doc_ids: np.ndarray) -> np.ndarray:
        return (doc_ids // self._run) % N_SOURCES

    def docs(self, n: int, first_id: int) -> tuple[pa.Table, list[np.ndarray]]:
        """``n`` more docs with ids from ``first_id``, drawn from the
        same vocabulary and distributions (appends use this too)."""
        rng = self._rng
        lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
        toks = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=self._p)
        topics = self.topic_of(np.arange(first_id, first_id + n))
        tok_topic = np.repeat(topics, lens)
        own = rng.random(len(toks)) < TOPIC_SHARE
        toks = np.where(own, self._topic_vocab[tok_topic, toks], toks)
        bounds = np.concatenate([[0], np.cumsum(lens)])
        doc_tokens = [toks[bounds[i]:bounds[i + 1]] for i in range(n)]
        vocab = self.vocab
        texts = [" ".join(vocab[t] for t in d) for d in doc_tokens]
        table = pa.table({
            "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist()),
            "source": pa.array([f"src{t}" for t in topics]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        return table, doc_tokens

    def write_parquet(self, path: str) -> int:
        """Write the corpus; returns its size in bytes."""
        return write_parquet(self.table, path)

    def term(self, rng, bucket: str, topic: int | None = None) -> str:
        """A term of ``bucket`` ("head", "mid", "tail"; with a topic,
        "topic_rare" or "topic_mid")."""
        ids = getattr(self, bucket)
        if topic is not None:
            ids = ids[topic]
        return self.vocab[int(ids[rng.integers(len(ids))])]

    def terms(self, rng, buckets: list[str], topic: int | None = None) -> list[str]:
        """Distinct terms, one from each named bucket, in that order."""
        out: list[str] = []
        for b in buckets:
            t = self.term(rng, b, topic)
            while t in out:
                t = self.term(rng, b, topic)
            out.append(t)
        return out

    def adjacent_pair(self, rng) -> list[str]:
        """Two adjacent tokens of a random doc: a phrase that matches."""
        d = self.doc_tokens[int(rng.integers(self.n_docs))]
        i = int(rng.integers(len(d) - 1))
        return [self.vocab[d[i]], self.vocab[d[i + 1]]]


def write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _vocab(rng) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: dict[str, None] = {}
    while len(seen) < VOCAB_SIZE:
        n = VOCAB_SIZE - len(seen) + 1000
        lens = rng.integers(4, 11, n)
        chars = rng.choice(letters, int(lens.sum()))
        bounds = np.concatenate([[0], np.cumsum(lens)])
        for i in range(n):
            seen.setdefault("".join(chars[bounds[i]:bounds[i + 1]]), None)
    return list(seen)[:VOCAB_SIZE]


# --------------------------------------------------------------------------
# request generators
#
# The seed picks the terms.  The shape of each request slot (its kind,
# extras, term count and df buckets) comes from one fixed layout that
# every seed shares, so the mix of request costs, including which kinds
# the most popular serve requests are, is the same on every seed.

LAYOUT_SEED = 0


def _layout(salt: int):
    return np.random.default_rng([LAYOUT_SEED, salt])


def or_buckets(layout, n_terms: int) -> list[str]:
    """Buckets of a 1..n-term OR query: head and mid terms, sometimes a
    tail term.  A one-term query takes a mid term: there are too few head
    terms for that many distinct queries."""
    if n_terms == 1:
        return ["mid"]
    buckets = ["head"] + [
        "tail" if layout.random() < 0.25 else "mid" for _ in range(n_terms - 1)
    ]
    layout.shuffle(buckets)
    return buckets


SERVE_KINDS = (
    ("or", 0.40),
    ("bool_must", 0.12),
    ("phrase", 0.10),
    ("negation", 0.10),
    ("prefix", 0.08),
    ("lang_filter", 0.20),
)


SERVE_EXTRAS = (("highlight", 0.15), ("aggs", 0.10), (None, 0.75))


def serve_shapes(n: int) -> list[tuple[str, str | None, list[str]]]:
    """(kind, extra, OR buckets) of ``n`` serve slots, drawn by their
    weights from the fixed layout."""
    layout = _layout(1)
    kinds, kind_w = zip(*SERVE_KINDS)
    extras, extra_w = zip(*SERVE_EXTRAS)
    return [
        (kinds[int(layout.choice(len(kinds), p=kind_w))],
         extras[int(layout.choice(len(extras), p=extra_w))],
         or_buckets(layout, int(layout.integers(1, 5))))
        for _ in range(n)
    ]


def serve_request(corpus: Corpus, rng, kind: str, extra: str | None,
                  buckets: list[str]) -> dict:
    """One serve request of the given shape.  The "or" and "lang_filter"
    kinds are plain scored ORs, so DuckDB can recompute their top-k."""
    if kind in ("or", "lang_filter"):
        req: dict = {"query": " ".join(corpus.terms(rng, buckets))}
        if kind == "lang_filter":
            lang = LANGS[int(rng.integers(len(LANGS)))]
            req["filter"] = [{"KeywordEq": {"field": "lang", "value": lang}}]
    elif kind == "bool_must":
        a, b = corpus.terms(rng, ["head", "mid"])
        req = {"query": {"type": "bool", "must": [
            {"type": "term", "field": "text", "value": a},
            {"type": "term", "field": "text", "value": b},
        ]}}
    elif kind == "phrase":
        req = {"query": '"' + " ".join(corpus.adjacent_pair(rng)) + '"'}
    elif kind == "negation":
        a, b, c = corpus.terms(rng, ["mid", "mid", "head"])
        req = {"query": f"{a} {b} -{c}"}
    else:  # 3-letter prefix of a mid term: expands to a few dictionary keys
        req = {"query": {"type": "prefix", "field": "text",
                         "value": corpus.term(rng, "mid")[:3]}}
    req["limit"] = K
    if extra == "highlight":
        req["highlight_field"] = "text"
    elif extra == "aggs":
        req["aggs"] = {"langs": {"terms": {"field": "lang", "size": 5}}}
    return req


def serve_pool(corpus: Corpus, seed: int, n: int = SERVE_POOL,
               salt: int = 2) -> list[tuple[str, dict]]:
    """``n`` distinct (kind, request), most popular first."""
    rng = np.random.default_rng([seed, salt])
    pool: list[tuple[str, dict]] = []
    keys: set[str] = set()
    for kind, extra, buckets in serve_shapes(n):
        while True:  # redraw the terms until the request is new
            req = serve_request(corpus, rng, kind, extra, buckets)
            key = json.dumps(req, sort_keys=True)
            if key not in keys:
                break
        keys.add(key)
        pool.append((kind, req))
    return pool


def popularity_picks(n_items: int, n_picks: int) -> list[int]:
    """``n_picks`` indices into ``n_items`` items (most popular first)
    by Zipf popularity.  Pick j is the item at the popularity quantile
    that is the j-th point of the base-2 van der Corput sequence (1/2,
    1/4, 3/4, 1/8, ...), so the first m picks spread over the whole
    distribution for every m.  Every seed then sends the same popularity
    ranks, whose request kinds the fixed layout sets, and the mix of
    request costs does not vary by chance from run to run; the seed
    still draws every request's terms."""
    w = np.arange(1, n_items + 1, dtype=np.float64) ** -SERVE_POPULARITY_EXPONENT
    cdf = np.cumsum(w / w.sum())
    u = np.array([_van_der_corput(j) for j in range(1, n_picks + 1)])
    picks = np.minimum(np.searchsorted(cdf, u, side="right"), n_items - 1)
    return [int(i) for i in picks]


def _van_der_corput(j: int) -> float:
    """j's binary digits mirrored about the point: 1 -> 0.5, 2 -> 0.25,
    3 -> 0.75, 4 -> 0.125."""
    q, scale = 0.0, 0.5
    while j:
        j, bit = divmod(j, 2)
        q += bit * scale
        scale /= 2
    return q


def rank_queries(corpus: Corpus, seed: int, n: int) -> list[dict]:
    """``n`` distinct 2-6 term queries: one head term plus 1-5 topical
    terms of one seeded topic, each rare or mid.  No term has fewer than
    k postings, so the highest-bound term always seeds a θ above 0."""
    layout = _layout(3)
    rng = np.random.default_rng([seed, 3])
    out: list[dict] = []
    seen: set[str] = set()
    while len(out) < n:
        rest = ["topic_rare" if layout.random() < 0.5 else "topic_mid"
                for _ in range(1 + len(out) % 5)]
        topic = int(rng.integers(N_SOURCES))
        q = " ".join(corpus.terms(rng, ["head"]) + corpus.terms(rng, rest, topic))
        if q not in seen:
            seen.add(q)
            out.append({"query": q, "limit": K})
    return out


def batch_requests(corpus: Corpus, rng, n: int) -> dict[str, dict]:
    """``n`` distinct 1-4 term OR queries keyed ``q0..q{n-1}``; the same
    shapes in every batch."""
    layout = _layout(4)
    shapes = [or_buckets(layout, int(layout.integers(1, 5))) for _ in range(n)]
    out: dict[str, dict] = {}
    seen: set[str] = set()
    for buckets in shapes:
        q = " ".join(corpus.terms(rng, buckets))
        while q in seen:
            q = " ".join(corpus.terms(rng, buckets))
        seen.add(q)
        out[f"q{len(out)}"] = {"query": q}
    return out
