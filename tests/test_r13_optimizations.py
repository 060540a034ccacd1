"""Equivalence pins for the r13 optimizations.

The r13 chunk-kernel change (one token-span array per document) must
be bit-identical to the recursive splitter's contract: the
golden-corpus suite pins the composed output, these tests pin the
machinery directly against the test oracle
(``splitter_reference.reference_split``) on adversarial inputs, ASCII
and not.
"""

from __future__ import annotations

import os
import re

import pytest

from gpt_rag_ingestion_spark.chunking import splitter as sp
from gpt_rag_ingestion_spark.chunking.doc_analysis import (
    _chunk_numbered,
    chunk_analyzed_markdown,
    number_pagebreaks,
)
from conftest import SF0001
from splitter_reference import reference_split

_TOKEN_RE = re.compile(r"\w+|[^\w\s]")

EDGE_TEXTS = [
    "",
    " ",
    ".",
    ". ",
    "a",
    "a b",
    "word. " * 120,
    ". leading separator",
    "trailing separator. ",
    "a. . b",
    ". . . ",
    "x " * 400,
    "a\n\nb\n\nc" * 60,
    "#h\n# h2\nbody. more",
    "\n# A\n## B\ntext here. and more. " * 40,
    "(x) [y] {z}! " * 50,
    "one\ttwo\tthree! four? five. " * 30,
    "_under_score_ mix3d c4se. " * 30,
    "multi  spaces   here. " * 40,
    "\n\n\n\n",
    "abc" * 1500,
    "Header <!-- PageBreak --> middle. text <!-- PageBreak --> tail words",
    # every ASCII char, incl. the \x1c-\x1f separators (\s for str patterns)
    "".join(map(chr, range(128))) * 3,
    "a\x1cb\x1dc\x1ed\x1fe f\x0bg. " * 40,
    # non-ASCII: accented Latin, CJK, Cyrillic, Greek
    "Ça été déjà vu. Über naïve café! Señor año. " * 20,
    "東京は日本の首都です。大阪も大きい。 漢字 かな 한국어. " * 20,
    "Привет мир. Это тест! Ещё одна строка? " * 25,
    "Καλημέρα κόσμε. αβγ δεζ ηθι. " * 25,
    "cafe\u0301 e\u0301e\u0301 re\u0301sume\u0301. \u0301x " * 30,  # combining
    "a\u00a0b\u00a0c. d\u00a0\u00a0e \u00a0 f " * 30,  # NBSP is \s
    "\u0663\u0664 x\u0663y 12\u0663. \u0663 " * 30,  # Arabic-Indic digit
    "hi \U0001F600 there\U0001F600! \U0001F600\U0001F600 " * 30,  # emoji
    "é_ _é _é_ ü__x. __ñ " * 30,  # next to "_"
    "a\x85b\u2028c\u3000d. " * 30,  # non-ASCII whitespace
    "ñ",
    "日本",
    "\u00a0",
]
# non-ASCII text on both sides of every shipped separator
EDGE_TEXTS += [
    f"ñé{sep}中文{sep}Жж{sep}é" * 30
    for sep in dict.fromkeys(
        (s[0] if isinstance(s, tuple) else s)
        for s in sp._SEPARATORS + sp.MARKDOWN_SEPARATORS
        + sp.PYTHON_SEPARATORS + sp.SENTENCE_SEPARATORS
    )
]

SEPSETS = [
    None,
    sp.MARKDOWN_SEPARATORS,
    sp.PYTHON_SEPARATORS,
    sp.SENTENCE_SEPARATORS,
]
PARAMS = [(40, 4, 2), (60, 4, 1), (64, 8, 4), (10, 3, 1), (5, 0, 1), (8, 8, 2)]


def test_token_spans_batch_matches_finditer():
    texts = EDGE_TEXTS + [None, "über café", "mixé. x"]
    # mixed batches, all-ASCII and all-non-ASCII batches
    for batch in (
        texts,
        [t for t in texts if not t or t.isascii()],
        [t for t in texts if t and not t.isascii()],
    ):
        spans = sp.token_spans_batch(batch)
        assert len(spans) == len(batch)
        for text, spn in zip(batch, spans):
            ref = [(m.start(), m.end()) for m in _TOKEN_RE.finditer(text or "")]
            assert list(zip(spn[0].tolist(), spn[1].tolist())) == ref


def test_span_fast_path_matches_legacy_splitter():
    """Batched spans and spans computed per call both give the
    oracle's chunks."""
    spans = sp.token_spans_batch(EDGE_TEXTS)
    n = 0
    for sepset in SEPSETS:
        for mt, ov, mn in PARAMS:
            for text, spn in zip(EDGE_TEXTS, spans):
                want = reference_split(text, mt, ov, mn, separators=sepset)
                batched = sp.split_text_recursive(
                    text, max_tokens=mt, overlap_tokens=ov, min_tokens=mn,
                    separators=sepset, _spans=spn,
                )
                assert batched == want, (text[:50], mt, ov, mn)
                alone = sp.split_text_recursive(
                    text, max_tokens=mt, overlap_tokens=ov, min_tokens=mn,
                    separators=sepset,
                )
                assert alone == want, (text[:50], mt, ov, mn)
                n += 1
    assert n == len(SEPSETS) * len(PARAMS) * len(EDGE_TEXTS)


def test_span_fast_path_rejects_non_additive_separators():
    # a word char at a cut lets one token span it, so counts are not
    # additive; an empty or unhashable entry is no separator: the
    # splitter refuses the set, with or without precomputed spans
    text = "xxabyy zzabww. " * 30
    (spn,) = sp.token_spans_batch([text])
    for seps in (["ab", " "], [" ", "x"], [("x", "start"), " "], ["", " "],
                 [("", "start")], [[" "]]):
        for kw in ({}, {"_spans": spn}):
            with pytest.raises(ValueError):
                sp.split_text_recursive(
                    text, max_tokens=6, overlap_tokens=1, min_tokens=1,
                    separators=seps, **kw,
                )
        with pytest.raises(ValueError):
            sp.compile_separators(seps)


SF01 = os.path.join(os.path.dirname(SF0001), "sf0.1")
# stand-ins for every 7th word: accented Latin, CJK, Cyrillic, Greek,
# some next to a sentence separator
_NON_ASCII_WORDS = [
    "café", "déjà.", "naïve", "東京", "日本語。", "Привет", "мир!",
    "κόσμε", "αβγ?", "Señor",
]


def _non_ascii_variant(texts):
    """Deterministic non-ASCII variant of a corpus: every 7th word of
    each document is swapped for a non-ASCII one."""
    out = []
    for i, text in enumerate(texts):
        words = text.split(" ")
        for k in range(6, len(words), 7):
            words[k] = _NON_ASCII_WORDS[(i + k) % len(_NON_ASCII_WORDS)]
        out.append(" ".join(words))
    return out


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 test data absent")
def test_sf01_non_ascii_variant_matches_reference():
    import pyarrow.parquet as pq

    texts = pq.read_table(
        f"{SF01}/documents.parquet", columns=["text"]
    ).column("text").to_pylist()[::10]
    docs = _non_ascii_variant(texts)
    assert len(docs) >= 500 and not any(d.isascii() for d in docs)
    spans = sp.token_spans_batch(docs)
    # pipeline, q50 and default shapes
    for mt, ov, mn in [(64, 8, 4), (40, 4, 2), (2048, 200, 100)]:
        for sepset in SEPSETS:
            for text, spn in zip(docs, spans):
                got = sp.split_text_recursive(
                    text, max_tokens=mt, overlap_tokens=ov, min_tokens=mn,
                    separators=sepset, _spans=spn,
                )
                want = reference_split(text, mt, ov, mn, separators=sepset)
                assert got == want, (text[:50], mt, ov, mn)


def test_chunk_numbered_matches_chunk_analyzed_markdown():
    mds = [
        "alpha <!-- PageBreak --> beta gamma. delta <!-- PageBreak --> tail",
        "no breaks at all, just words. " * 20,
        "",
        "<!-- PageBreak -->",
    ]
    for start_page in (1, 7):
        numbered = [number_pagebreaks(s, start_page=start_page) for s in mds]
        spans = sp.token_spans_batch(numbered)
        for s, nmd, spn in zip(mds, numbered, spans):
            legacy = chunk_analyzed_markdown(
                s, max_tokens=12, overlap=2, min_tokens=1, start_page=start_page
            )
            fast = _chunk_numbered(nmd, spn, 12, 2, 1, start_page)
            assert fast == legacy
