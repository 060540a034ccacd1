"""Tests of the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import Corpus, CorpusSpec  # noqa: E402

SPEC = CorpusSpec(n_docs=400)


def _listing(seed: int, ticks: int) -> bytes:
    """The listing file's bytes after ``ticks`` ticks."""
    corpus = Corpus(SPEC, seed)
    for _ in range(ticks):
        corpus.tick()
    sink = pa.BufferOutputStream()
    corpus.write_listing(sink)
    return sink.getvalue().to_pybytes()


def test_same_seed_gives_identical_bytes():
    for ticks in (0, 2):
        assert _listing(7, ticks) == _listing(7, ticks)


def test_held_out_seed_gives_different_bytes():
    assert _listing(7, 0) != _listing(8, 0)


def test_tick_changes_and_adds_the_specified_shares():
    corpus = Corpus(SPEC, 3)
    before = list(corpus.texts)
    changed = corpus.tick()
    n_change = round(SPEC.change_frac * SPEC.n_docs)
    n_new = round(SPEC.new_frac * SPEC.n_docs)
    assert len(changed) == n_change + n_new
    assert len(corpus.keys) == SPEC.n_docs + n_new
    rewritten = [i for i, t in enumerate(before) if corpus.texts[i] != t]
    assert [corpus.keys[i] for i in rewritten] == changed[:n_change]


def test_length_and_non_ascii_shares():
    corpus = Corpus(CorpusSpec(n_docs=4000), 5)
    short = sum(len(t) < 400 for t in corpus.texts) / len(corpus.texts)
    non_ascii = sum(not t.isascii() for t in corpus.texts) / len(corpus.texts)
    assert 0.01 < short < 0.08
    assert 0.05 < non_ascii < 0.15
