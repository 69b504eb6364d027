"""Seeded crawl-shaped pages corpus for the benchmark.

One process, numpy only. The same ``(seed, params)`` always gives the same
parquet bytes; the program under test only ever sees those files.

The shape follows what the engine's behaviour depends on:

- pages belong to hosts drawn from a Zipf law, and each parquet file holds
  whole hosts (host rank modulo the file count), so the file holding the
  top host is much larger than the rest;
- page length in tokens is log-normal and clipped, so a few pages hit the
  per-doc pair cap;
- a fixed share of pages carries no gazetteer token at all;
- filler text comes from a Zipf vocabulary of ``vocab`` synthetic words
  disjoint from the gazetteer;
- doc ids are ``3 * url`` (the first crawl of each url), matching the url
  rule ``doc_id div 3`` the product's ingest path uses;
- a share of pages are near-duplicate edits of earlier pages on new urls.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the gazetteer of clinicaltransformerrelationextraction_spark.config; kept
# literal so generating a corpus needs no Spark import
GAZETTEER = (
    "spark", "hash", "table", "join", "key", "merge", "sort", "scan",
    "filter", "window", "group", "stream",
)
LANGS = ("en", "de", "fr", "es", "zh", "ja")
LANG_P = (0.55, 0.12, 0.10, 0.10, 0.08, 0.05)
SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("host", pa.string()),
])


@dataclass(frozen=True)
class CorpusParams:
    n_pages: int = 1000
    n_hosts: int = 200
    host_zipf: float = 1.1
    n_files: int = 8
    len_median: float = 60.0  # tokens
    len_sigma: float = 1.3  # log-normal shape
    len_max: int = 6000
    no_mention_frac: float = 0.30
    mention_density: tuple[float, float] = (0.05, 0.30)  # uniform range
    vocab: int = 12000
    vocab_zipf: float = 1.07
    near_dup_frac: float = 0.05
    edit_frac: float = 0.06  # share of tokens replaced in an edited copy


def _word(i: int) -> str:
    """The i-th synthetic filler word: a consonant-vowel spelling of i, so
    words are pronounceable, unique, and never a gazetteer token."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    out = []
    i += 80  # start at three syllables' worth, skipping tiny words
    while i:
        i, r = divmod(i, 80)
        c, v = divmod(r, 5)
        out.append(cons[c] + vows[v])
    return "".join(out)


def vocabulary(n: int) -> list[str]:
    words = [_word(i) for i in range(n)]
    assert not set(words) & set(GAZETTEER)
    return words


class _Gen:
    """Token-level page generator over one rng and one vocabulary."""

    def __init__(self, rng: np.random.Generator, p: CorpusParams):
        self.rng, self.p = rng, p
        self.words = np.asarray(vocabulary(p.vocab), dtype=object)
        ranks = np.arange(1, p.vocab + 1, dtype=np.float64)
        self.word_cdf = np.cumsum(ranks ** -p.vocab_zipf)
        self.word_cdf /= self.word_cdf[-1]
        self.gaz = np.asarray(GAZETTEER, dtype=object)
        self.lang_cdf = np.cumsum(LANG_P)
        self.lang_cdf /= self.lang_cdf[-1]

    def _filler(self, n: int) -> np.ndarray:
        idx = np.searchsorted(self.word_cdf, self.rng.random(n))
        return self.words[np.minimum(idx, len(self.words) - 1)]

    def page(self) -> list[str]:
        p, rng = self.p, self.rng
        n = int(np.clip(
            rng.lognormal(np.log(p.len_median), p.len_sigma), 3, p.len_max
        ))
        toks = self._filler(n)
        if rng.random() >= p.no_mention_frac:
            lo, hi = p.mention_density
            hit = rng.random(n) < rng.uniform(lo, hi)
            toks[hit] = self.gaz[rng.integers(0, len(self.gaz), hit.sum())]
        return list(toks)

    def edit(self, toks: list[str]) -> list[str]:
        """A near-duplicate: replace ``edit_frac`` of the tokens with
        filler words (at least one)."""
        out = np.asarray(toks, dtype=object)
        k = max(1, int(round(len(out) * self.p.edit_frac)))
        pos = self.rng.choice(len(out), size=min(k, len(out)), replace=False)
        out[pos] = self._filler(len(pos))
        return list(out)

    def lang(self) -> str:
        return LANGS[int(np.searchsorted(self.lang_cdf, self.rng.random()))]


def _host_cdf(p: CorpusParams) -> np.ndarray:
    w = np.arange(1, p.n_hosts + 1, dtype=np.float64) ** -p.host_zipf
    c = np.cumsum(w)
    return c / c[-1]


@dataclass
class Crawl:
    """An in-memory crawl as parallel columns."""

    doc_id: list[int]
    toks: list[list[str]]
    lang: list[str]
    host: list[int]

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "text": pa.array([" ".join(t) for t in self.toks], pa.string()),
            "lang": pa.array(self.lang, pa.string()),
            "host": pa.array([f"h{h:04d}.example" for h in self.host],
                             pa.string()),
        }, schema=SCHEMA)


def make_crawl(seed: int, p: CorpusParams) -> Crawl:
    """A base crawl of ``p.n_pages`` pages, first crawl of each url
    (doc_id = 3 * url). A ``near_dup_frac`` share are edited copies of an
    earlier page of the same crawl on a new url."""
    rng = np.random.default_rng(seed)
    g = _Gen(rng, p)
    hosts = np.searchsorted(_host_cdf(p), rng.random(p.n_pages))
    c = Crawl([], [], [], [])
    for u in range(p.n_pages):
        if u and rng.random() < p.near_dup_frac:
            toks = g.edit(c.toks[int(rng.integers(0, u))])
        else:
            toks = g.page()
        c.doc_id.append(3 * u)
        c.toks.append(toks)
        c.lang.append(g.lang())
        c.host.append(int(hosts[u]))
    return c


def write_crawl(c: Crawl, path: str, n_files: int) -> None:
    """Write ``c`` as ``n_files`` parquet files grouped by host: a host's
    pages all land in file ``host_rank % n_files``, rows sorted by doc id
    inside each file. Files that would be empty are not written."""
    os.makedirs(path, exist_ok=True)
    t = c.table()
    fid = np.asarray(c.host, dtype=np.int64) % n_files
    for f in range(n_files):
        rows = np.flatnonzero(fid == f)
        if len(rows):
            pq.write_table(t.take(rows),
                           os.path.join(path, f"part-{f:03d}.parquet"))


def params_key(*parts) -> str:
    blob = json.dumps(
        [asdict(x) if hasattr(x, "__dataclass_fields__") else x
         for x in parts],
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def cached(root: str, key: str, build) -> str:
    """``root/key`` once ``build(tmp_dir)`` has filled it; generated
    corpora are reused across runs with the same seed and parameters."""
    path = os.path.join(root, key)
    if os.path.isfile(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.replace(tmp, path)
    return path
