"""Seeded generator for crawl-shaped inputs.

Everything the benchmark feeds the program comes from here: raw crawl
records in the scraper's JSON shape (``url, scraped_at, status_code,
title, content, author, language, doc_id``), crawl batches that re-visit
urls already seen, and short query documents for the serve loop. The
same seed gives byte-identical files; nothing here imports Spark.

Knobs (``CorpusSpec``): log-normal document length with a long tail,
Zipf-distributed vocabulary, the share of records that re-crawl a url
seen before, the share of failed fetches (no usable content), and for
queries the share of rare terms.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

# Stream ids keep the random draws of each generated artifact
# independent: adding a batch never shifts the base corpus.
_VOCAB, _CORPUS, _BATCH, _QUERY = 1, 2, 3, 4

_SYLLABLES = [
    c + v for c in "bcdfghjklmnprstvwz" for v in ("a", "e", "i", "o", "u", "ai", "ou")
]
# Characters the silver normalisation strips or keeps, so the regex
# path does real work on every document.
_NOISE = ["#", "@", "/", "'", '"', "&", "*", "(", ")", ":", ";", "-"]
_HOSTS = 40
_BASE_TIME = 1_700_000_000.0


@dataclass(frozen=True)
class CorpusSpec:
    vocab_size: int = 6000
    zipf_s: float = 1.1
    len_median_words: float = 70.0
    len_sigma: float = 0.9
    min_words: int = 3
    max_words: int = 600
    recrawl_share: float = 0.10
    failed_share: float = 0.02


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct lowercase words; index = Zipf rank."""
    rng = np.random.default_rng([seed, _VOCAB])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = 1 + int(rng.integers(0, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_p(size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return p / p.sum()


def _text(rng: np.random.Generator, vocab: list[str], p: np.ndarray, n_words: int) -> str:
    ranks = rng.choice(len(vocab), size=n_words, p=p)
    parts: list[str] = []
    sentence_left = 0
    for i, r in enumerate(ranks):
        w = vocab[r]
        if sentence_left == 0:
            if i:
                parts[-1] += "." if rng.random() < 0.8 else "?"
                if rng.random() < 0.15:
                    parts[-1] += "\n\n"
            w = w.capitalize()
            sentence_left = 5 + int(rng.integers(0, 14))
        elif rng.random() < 0.03:
            w = _NOISE[int(rng.integers(0, len(_NOISE)))] + w
        elif rng.random() < 0.05:
            parts[-1] += ","
        parts.append(w)
        sentence_left -= 1
    return " ".join(parts).replace("\n\n ", "\n\n") + "."


class _Crawler:
    """Draws crawl records; remembers the urls it has fetched content for."""

    def __init__(self, seed: int, spec: CorpusSpec):
        self.spec = spec
        self.vocab = vocabulary(seed, spec.vocab_size)
        self.p = _zipf_p(spec.vocab_size, spec.zipf_s)
        self.live_urls: list[str] = []  # urls whose fetch returned content
        self.n_urls = 0

    def _new_url(self, rng: np.random.Generator) -> str:
        self.n_urls += 1
        host = int(rng.integers(0, _HOSTS))
        slug = "-".join(self.vocab[int(r)] for r in rng.integers(0, 200, 2))
        return f"https://site{host}.example.com/{slug}-{self.n_urls}"

    def _n_words(self, rng: np.random.Generator) -> int:
        s = self.spec
        n = rng.lognormal(np.log(s.len_median_words), s.len_sigma)
        return int(min(max(n, s.min_words), s.max_words))

    def record(self, rng: np.random.Generator, doc_id: int, url: str | None = None,
               text: str | None = None) -> dict:
        """One crawl record. ``url`` re-crawls a known page; ``text``
        overrides the drawn content (query documents)."""
        failed = text is None and rng.random() < self.spec.failed_share
        if url is None:
            url = self._new_url(rng)
            if not failed:
                self.live_urls.append(url)
        if failed:
            content = None if rng.random() < 0.5 else "   "
            status = 404
        else:
            content = text if text is not None else _text(
                rng, self.vocab, self.p, self._n_words(rng)
            )
            status = 200
        title_words = rng.choice(len(self.vocab), size=3, p=self.p)
        return {
            "url": url,
            "scraped_at": _BASE_TIME + doc_id * 7.25,
            "status_code": status,
            "title": " ".join(self.vocab[int(r)] for r in title_words).title(),
            "content": content,
            "author": f"author{int(rng.integers(0, 300))}",
            "language": "en",
            "doc_id": str(doc_id),
        }

    def crawl(self, rng: np.random.Generator, first_id: int, n: int,
              recrawl_share: float, distinct: bool = False) -> list[dict]:
        """``n`` records with ascending doc ids; about ``recrawl_share``
        of them re-fetch a url that already returned content, the rest
        are new pages. ``distinct``: re-fetch only urls known before
        this call, each at most once, so no url repeats in the batch."""
        out = []
        known = list(self.live_urls)
        taken: set[str] = set()
        for i in range(n):
            url = None
            pool = known if distinct else self.live_urls
            if pool and rng.random() < recrawl_share:
                cand = pool[int(rng.integers(0, len(pool)))]
                if not (distinct and cand in taken):
                    url = cand
            rec = self.record(rng, first_id + i, url=url)
            taken.add(rec["url"])
            out.append(rec)
        return out


@dataclass
class Crawl:
    """A base corpus plus follow-up crawl batches and query documents.

    ``base`` ids are ``0..len(base)-1``; batch ``i`` continues the id
    sequence, so a url's first fetch always has the smallest doc id."""

    base: list[dict]
    batches: list[list[dict]]
    query_ids: list[int]


def make_crawl(
    seed: int,
    n_base: int,
    n_batches: int = 0,
    batch_docs: int = 0,
    batch_recrawl_share: float = 0.20,
    n_queries: int = 0,
    query_words: int = 12,
    query_rare_share: float = 0.35,
    spec: CorpusSpec = CorpusSpec(),
) -> Crawl:
    """Generate a crawl. Query documents are short pages mixing head
    (common) and tail (rare) vocabulary terms; they are part of the
    base corpus so the serve path can look them up by id."""
    crawler = _Crawler(seed, spec)
    rng = np.random.default_rng([seed, _CORPUS])
    base = crawler.crawl(rng, 0, n_base, spec.recrawl_share)
    qrng = np.random.default_rng([seed, _QUERY])
    query_ids = []
    head, v = 60, spec.vocab_size
    for _ in range(n_queries):
        rare = qrng.random(query_words) < query_rare_share
        ranks = np.where(
            rare,
            qrng.integers(v // 2, v, query_words),
            qrng.integers(0, head, query_words),
        )
        text = " ".join(crawler.vocab[int(r)] for r in ranks).capitalize() + "."
        doc_id = len(base)
        base.append(crawler.record(qrng, doc_id, text=text))
        query_ids.append(doc_id)
    batches = []
    brng = np.random.default_rng([seed, _BATCH])
    next_id = len(base)
    for _ in range(n_batches):
        batches.append(
            crawler.crawl(brng, next_id, batch_docs, batch_recrawl_share, distinct=True)
        )
        next_id += batch_docs
    return Crawl(base, batches, query_ids)


def record_line(record: dict) -> bytes:
    """The JSON-lines encoding of one record, newline included."""
    return (json.dumps(record, sort_keys=True) + "\n").encode()


def write_jsonl(records: list[dict], path: str) -> int:
    """Write one JSON object per line; returns the bytes written."""
    data = b"".join(map(record_line, records))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_split(records: list[dict], dirpath: str, n_files: int) -> list[str]:
    """Spread ``records`` over ``n_files`` JSON-lines files (the
    scraper drops many objects into one bucket); returns their paths."""
    step = -(-len(records) // n_files)
    paths = []
    for i in range(0, len(records), step):
        paths.append(os.path.join(dirpath, f"part-{i // step:04d}.json"))
        write_jsonl(records[i:i + step], paths[-1])
    return paths
