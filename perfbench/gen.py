"""Seeded, vectorised input generator for the benchmark.

Everything the program under test sees is produced here from one seed:
the document listing (``doc_key``, ``text``, ``last_modified``) that
``run_ingest_job`` scans, the refresh ticks that change and add
documents, and the query terms of the retrieval workload.

All random draws for a corpus happen in bulk numpy calls (lengths,
word ids, punctuation, non-ASCII substitutions); the only per-document
Python work is one ``str.join`` over pre-built word+punctuation
strings.  The same seed gives byte-identical listing files.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in microseconds; base documents are stamped
#: within the following day, tick k's changes at day k + 2.
BASE_TS_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000

_SYLLABLES = (
    "ka to ri mo sa ne lu pi do ve ra chi en or al is um qu ba ze fi "
    "gro sta pre tion er an ol ex im"
).split()
_NON_ASCII_WORDS = (
    "café naïve straße façade über señor jalapeño smörgåsbord crème "
    "déjà 日本語 数据 검색 поиск данные αλφα μέτρο ingestión año"
).split()
# word suffixes: plain space, comma, sentence end, line end, paragraph end
_SUFFIXES = (" ", ", ", ". ", ".\n", ".\n\n")
_SUFFIX_P = (0.86, 0.05, 0.06, 0.02, 0.01)
_INVALID_KEY = re.compile(r"[^A-Za-z0-9_=-]+")


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of a generated corpus and of its refresh ticks."""

    n_docs: int = 1500
    #: lognormal body of the document length in characters
    #: (median e^7.7 ~ 2,200 chars, long right tail)
    len_mu: float = 7.7
    len_sigma: float = 0.9
    max_chars: int = 120_000
    #: share of documents under 400 characters
    short_frac: float = 0.03
    #: share of documents carrying non-ASCII words
    non_ascii_frac: float = 0.10
    #: per tick: share of live documents rewritten, share of n_docs added
    change_frac: float = 0.01
    new_frac: float = 0.002
    #: rewritten documents stay long enough to chunk: a document
    #: rewritten below the job's min_tokens keeps its old chunks in the
    #: table (the merge replaces only parents that have new chunks)
    rewrite_min_chars: int = 1200
    vocab_size: int = 6000
    zipf_a: float = 1.3


def parent_id(doc_key: str) -> str:
    """The chunk table's ``parent_id`` for a listing key (the job's
    key sanitizer, restated for keys this generator makes)."""
    return _INVALID_KEY.sub("-", doc_key).strip("-")


class Corpus:
    """A listing that evolves tick by tick.  Draw order is fixed, so
    the state after any number of ticks depends on the seed alone."""

    def __init__(self, spec: CorpusSpec, seed: int):
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        syl = np.array(_SYLLABLES, dtype=object)
        n_syl = self.rng.integers(2, 5, spec.vocab_size)
        picks = self.rng.integers(0, len(syl), (spec.vocab_size, 4))
        self.vocab = [
            "".join(syl[picks[i, : n_syl[i]]]) for i in range(spec.vocab_size)
        ]
        words = self.vocab + _NON_ASCII_WORDS
        # every (word, suffix) pair as one string: a document is then a
        # single join over a fancy-indexed object array
        self._combos = np.array(
            [w + s for w in words for s in _SUFFIXES], dtype=object
        )
        self.keys: list[str] = []
        self.texts: list[str] = []
        self.ts_us = np.empty(0, dtype=np.int64)
        self.n_ticks = 0
        self._add_docs(spec.n_docs, BASE_TS_US)

    # -- generation -------------------------------------------------

    def _lengths(self, n: int, min_chars: int) -> np.ndarray:
        s = self.spec
        body = np.exp(self.rng.normal(s.len_mu, s.len_sigma, n))
        short = self.rng.integers(40, 400, n)
        is_short = self.rng.random(n) < s.short_frac
        lengths = np.where(is_short, short, body)
        return np.clip(lengths, min_chars, s.max_chars).astype(np.int64)

    def _make_texts(self, n: int, min_chars: int = 40) -> list[str]:
        s = self.spec
        n_words = np.maximum(self._lengths(n, min_chars) // 6, 1)
        total = int(n_words.sum())
        word = (self.rng.zipf(s.zipf_a, total) - 1) % s.vocab_size
        doc_of = np.repeat(np.arange(n), n_words)
        non_ascii_doc = self.rng.random(n) < s.non_ascii_frac
        swap = non_ascii_doc[doc_of] & (self.rng.random(total) < 0.05)
        word[swap] = s.vocab_size + self.rng.integers(
            0, len(_NON_ASCII_WORDS), int(swap.sum())
        )
        suffix = self.rng.choice(len(_SUFFIXES), total, p=_SUFFIX_P)
        tokens = self._combos[word * len(_SUFFIXES) + suffix]
        ends = np.cumsum(n_words)
        starts = ends - n_words
        return [
            "".join(tokens[a:b].tolist()).rstrip()
            for a, b in zip(starts.tolist(), ends.tolist())
        ]

    def _add_docs(self, n: int, day_start_us: int) -> list[str]:
        first = len(self.keys)
        keys = [f"docs/s{i % 7}/d{i:07d}.txt" for i in range(first, first + n)]
        self.keys.extend(keys)
        self.texts.extend(self._make_texts(n))
        ts = day_start_us + self.rng.integers(0, DAY_US // 2, n)
        self.ts_us = np.concatenate([self.ts_us, ts])
        return keys

    def tick(self) -> list[str]:
        """Rewrite ``change_frac`` of the live documents with a newer
        timestamp and add ``new_frac * n_docs`` documents.  Returns the
        keys of every changed or added document."""
        s = self.spec
        self.n_ticks += 1
        day = BASE_TS_US + (self.n_ticks + 1) * DAY_US
        n_live = len(self.keys)
        n_change = max(1, round(s.change_frac * n_live))
        idx = np.sort(self.rng.choice(n_live, n_change, replace=False))
        new_texts = self._make_texts(n_change, s.rewrite_min_chars)
        for i, t in zip(idx.tolist(), new_texts):
            self.texts[i] = t
        self.ts_us[idx] = day + self.rng.integers(0, DAY_US // 2, n_change)
        added = self._add_docs(max(1, round(s.new_frac * s.n_docs)), day)
        return [self.keys[i] for i in idx.tolist()] + added

    def query_terms(self, n_queries: int, n_terms: int) -> list[list[str]]:
        """BM25 query batches: Zipf-drawn vocabulary words."""
        w = (self.rng.zipf(self.spec.zipf_a, n_queries * n_terms) - 1) % len(
            self.vocab
        )
        return [
            [self.vocab[j] for j in w[q * n_terms : (q + 1) * n_terms]]
            for q in range(n_queries)
        ]

    # -- output -----------------------------------------------------

    @property
    def text_mb(self) -> float:
        return sum(len(t.encode("utf-8")) for t in self.texts) / 1e6

    def table(self) -> pa.Table:
        return pa.table(
            {
                "doc_key": pa.array(self.keys, pa.string()),
                "text": pa.array(self.texts, pa.string()),
                "last_modified": pa.array(self.ts_us, pa.timestamp("us", tz="UTC")),
            }
        )

    def write_listing(self, path: str) -> None:
        pq.write_table(self.table(), path)
