"""Text splitters (SURVEY.md C4, W1, W3).

Two implementations with different scale/semantics trade-offs:

1. ``chunk_fixed`` — pure DataFrame-API fixed-window splitter
   (size/overlap in characters).  ``sequence`` + ``explode`` +
   ``substring``: entirely JVM-side, whole-stage-codegen'd, zero Python.
   This is the 100 TB hot path and is exactly SQL-expressible, so it is
   oracle-checked (see __spark_entry__.q_chunk_fixed).

2. ``split_text_recursive`` — separator-aware recursive splitter with
   token-budgeted chunks and overlap, mirroring the reference's
   LangChain RecursiveCharacterTextSplitter configuration
   (reference chunking/chunkers/langchain_chunker.py:53-140, sizes
   2048/200/min-100 from doc_analysis_chunker.py:65-67).  Runs as a
   plain Python function inside an Arrow-batched pandas UDF in
   pipeline.chunk_documents; per-document sequential semantics (chunk
   numbering, offsets) stay inside the per-row call, per SURVEY.md §7
   "hard parts".  Each document is tokenized once, ASCII or not
   (``token_spans_batch``), and every recursion level derives its
   token counts from that one span array.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CHUNK_NUM_TOKENS = 2048  # reference doc_analysis_chunker.py:65
TOKEN_OVERLAP = 200  # reference doc_analysis_chunker.py:66 (CHANGELOG.md:60)
MIN_CHUNK_SIZE = 100  # tokens, reference doc_analysis_chunker.py:67

_SEPARATORS = ["\n\n", "\n", ". ", " "]

# Per-format separator sets (reference langchain_chunker.py:100-137:
# MarkdownTextSplitter / PythonCodeTextSplitter / sentence-separator
# RecursiveCharacterTextSplitter).  A ("sep", "start") entry splits
# BEFORE the separator and keeps it attached to the following piece —
# so a markdown chunk starts with its "#" header and a python chunk
# with its "def"/"class" line, like LangChain's keep_separator mode.
MARKDOWN_SEPARATORS: list = [
    ("\n# ", "start"),
    ("\n## ", "start"),
    ("\n### ", "start"),
    ("\n#### ", "start"),
    ("\n```", "start"),
    "\n\n",
    "\n",
    ". ",
    " ",
]
PYTHON_SEPARATORS: list = [
    ("\nclass ", "start"),
    ("\ndef ", "start"),
    ("\n\tdef ", "start"),
    ("\n    def ", "start"),
    "\n\n",
    "\n",
    ". ",
    " ",
]
# the reference's fallback set for html/csv/xml/txt: sentence endings
# then word breaks (langchain_chunker.py:129-131)
SENTENCE_SEPARATORS: list = [". ", "! ", "? ", " ", "\n", "\t"]

_TOKEN_RE = re.compile(r"\w+|[^\w\s]")
_WORD_RE = re.compile(r"\w")

# --- token spans -----------------------------------------------------------
# The splitter counts tokens from ONE array of ``_TOKEN_RE`` token spans
# per document.  Restricted to ASCII the regex is a per-byte
# classification (tokens are \w+ runs plus single non-word-non-space
# chars), so ASCII spans come from numpy table lookups over a whole
# Arrow batch at once; any other text gets its spans from one
# ``_TOKEN_RE.finditer``.
import numpy as _np
from itertools import chain as _chain

# the byte classes are exactly the regex's \w and \s over ASCII (str
# patterns: \s includes the \x1c-\x1f separators)
_IS_WORD_BYTE = _np.zeros(256, dtype=bool)
_IS_SPACE_BYTE = _np.zeros(256, dtype=bool)
for _c in range(128):
    _IS_WORD_BYTE[_c] = chr(_c).isalnum() or _c == ord("_")
    _IS_SPACE_BYTE[_c] = chr(_c).isspace()
del _c


def _token_spans_ascii(s: str):
    """(starts, ends) int64 arrays of ``_TOKEN_RE`` token spans over an
    ASCII string — bit-identical to ``finditer`` spans (pinned by
    test)."""
    b = _np.frombuffer(s.encode("ascii"), dtype=_np.uint8)
    w = _IS_WORD_BYTE[b]
    word_start = w.copy()
    word_start[1:] &= ~w[:-1]
    punct = ~w & ~_IS_SPACE_BYTE[b]
    starts = _np.nonzero(word_start | punct)[0]
    word_end = w.copy()
    word_end[:-1] &= ~w[1:]
    ends = starts + 1  # punct tokens are single chars
    isw = w[starts]
    ends[isw] = _np.nonzero(word_end)[0] + 1  # k-th word start ↔ k-th run end
    return starts, ends


def _token_spans_regex(s: str):
    """(starts, ends) int64 arrays of ``_TOKEN_RE.finditer`` over any
    string."""
    flat = _np.fromiter(
        _chain.from_iterable(m.span() for m in _TOKEN_RE.finditer(s)),
        dtype=_np.int64,
    )
    return flat[0::2].copy(), flat[1::2].copy()


def _token_spans_ascii_batch(texts: list) -> list:
    """``_token_spans_ascii`` of every text in ONE numpy pass: the texts
    joined with a single space (no token can cross a space, and a space
    adds no token), tokenized once, and split back by text char ranges.
    Amortizes the numpy per-call overhead that makes per-document
    vectorization a wash at small doc sizes."""
    g_starts, g_ends = _token_spans_ascii(" ".join(texts))
    bounds = _np.empty(2 * len(texts), dtype=_np.int64)
    pos = 0
    for k, t in enumerate(texts):
        bounds[2 * k] = pos
        bounds[2 * k + 1] = pos + len(t)
        pos += len(t) + 1
    idx = _np.searchsorted(g_starts, bounds)
    out = []
    for k in range(len(texts)):
        i, j = idx[2 * k], idx[2 * k + 1]
        off = bounds[2 * k]
        out.append((g_starts[i:j] - off, g_ends[i:j] - off))
    return out


def token_spans_batch(texts) -> list:
    """Per-document ``(starts, ends)`` token-span arrays for a whole
    Arrow batch, equal to the spans of ``_TOKEN_RE.finditer``: the ASCII
    documents share one numpy pass, every other document is tokenized
    by one ``finditer``.  ``None``/empty texts get empty span arrays
    (callers pass ``s or ""`` to the splitter)."""
    norm = [t if t else "" for t in texts]
    is_ascii = [t.isascii() for t in norm]
    ascii_spans = iter(
        _token_spans_ascii_batch([t for t, a in zip(norm, is_ascii) if a])
    )
    return [
        next(ascii_spans) if a else _token_spans_regex(t)
        for t, a in zip(norm, is_ascii)
    ]


def _ntokens(s: str) -> int:
    return len(_TOKEN_RE.findall(s))


def _counts_additive(sep, joiner: str) -> bool:
    """True when ``_ntokens(a + joiner + b)`` always equals
    ``_ntokens(a) + _ntokens(joiner) + _ntokens(b)`` for the pieces this
    separator level produces.  ``\\w+`` is the only token that can span
    a concatenation boundary (punctuation tokens are single chars), so
    counts are additive unless a word char can sit on both sides of a
    boundary: for lookahead ("start") separators the right piece begins
    with the separator pattern itself, and for plain separators the
    joiner is re-inserted — additive iff neither end of the junction
    text is a word char."""
    if isinstance(sep, tuple):
        pattern = sep[0]
        return bool(pattern) and not _WORD_RE.match(pattern[0])
    if not joiner:
        return False
    return not (
        _WORD_RE.match(joiner[0]) or _WORD_RE.match(joiner[-1])
    )


from functools import lru_cache


@lru_cache(maxsize=64)
def _compiled_seps(seps_key: tuple):
    """Per-separator-set plan of the splitter.  Each entry:
    ``(split_fn, joiner_len, n_join)`` where ``split_fn(s)`` returns the
    level's parts.  A plain separator drops itself from the parts (its
    text sits between consecutive parts); a ("sep", "start") lookahead
    separator keeps itself glued to the following part, and its empty
    parts are dropped.  Raises ``ValueError`` when a level fails
    ``_counts_additive`` — the precondition for deriving every count
    from the document's one token-span array.  All shipped separator
    sets qualify."""
    plan = []
    for sep in seps_key:
        if isinstance(sep, tuple):
            if not _counts_additive(sep, ""):
                raise ValueError(
                    f"separator {sep!r}: a lookahead pattern must be "
                    "non-empty and may not start with a word character"
                )
            pat = re.compile(f"(?={re.escape(sep[0])})")

            def split_fn(s, _p=pat):
                return [p for p in _p.split(s) if p != ""]

            plan.append((split_fn, 0, 0))
        else:
            if not _counts_additive(sep, sep):
                raise ValueError(
                    f"separator {sep!r}: must be non-empty and may not "
                    "start or end with a word character"
                )
            plan.append(
                (lambda s, _sep=sep: s.split(_sep), len(sep), _ntokens(sep))
            )
    return plan


def compile_separators(separators: list | None = None) -> list:
    """The splitter plan of ``separators`` (``None`` = the default set);
    ``ValueError`` for a set the splitter cannot run (see
    ``_compiled_seps``).  Chunk-kernel builders call it on the driver,
    so a bad set fails at plan build, not inside a Python worker."""
    seps = _SEPARATORS if separators is None else separators
    try:
        return _compiled_seps(tuple(seps))
    except TypeError:
        raise ValueError(
            f"separators must be strings or (pattern, 'start') tuples: {seps!r}"
        ) from None


def split_text_recursive(
    text: str,
    max_tokens: int = CHUNK_NUM_TOKENS,
    overlap_tokens: int = TOKEN_OVERLAP,
    min_tokens: int = MIN_CHUNK_SIZE,
    separators: list | None = None,
    _spans=None,
) -> list[dict]:
    """Split ``text`` into chunks of <= max_tokens, preferring paragraph >
    line > sentence > word boundaries (or a format-specific separator
    set — see MARKDOWN_SEPARATORS / PYTHON_SEPARATORS), with
    ~overlap_tokens of trailing context carried into the next chunk.
    Returns dicts with chunk_id / content / offset / length (chars),
    mirroring the reference chunk contract (base_chunker.py:218-234).

    The text is tokenized once: every piece at every recursion level is
    a contiguous substring of ``text``, so part counts, overlap tails
    and min-size checks all derive from one token-span array —
    ``_spans``, the precomputed ``(starts, ends)`` of ``text`` from
    ``token_spans_batch``, or computed here when omitted.  Pieces are
    tracked as (abs_start, abs_end, tok_lo, tok_hi); their strings are
    sliced from ``text`` only when finalized, so the greedy merge never
    concatenates or re-tokenizes.  Raises ``ValueError`` for a
    separator set ``compile_separators`` rejects."""
    plan = compile_separators(separators)
    if not text:
        return []
    starts, ends = _spans if _spans is not None else token_spans_batch([text])[0]
    n_total = len(starts)

    def split_fast(a: int, b: int, lo: int, hi: int, depth: int) -> list:
        # one piece == text[a:b], whose standalone tokens are exactly
        # the global tokens [lo, hi) (additive separators never let a
        # token cross a cut; pieces start/end at cuts or token edges)
        if hi - lo <= max_tokens:
            return [(a, b, lo, hi)]
        if depth >= len(plan):
            # hard token windows over the global spans
            out, i = [], lo
            while i < hi:
                j = min(i + max_tokens, hi)
                out.append((int(starts[i]), int(ends[j - 1]), i, j))
                if j == hi:
                    break
                i = j - overlap_tokens if j - overlap_tokens > i else j
            return out
        split_fn, step, n_join = plan[depth]
        parts = split_fn(text[a:b])
        if len(parts) <= 1:
            return split_fast(a, b, lo, hi, depth + 1)
        # absolute char bounds of every part, then ONE searchsorted for
        # all token subranges (replaces a findall per part); plain
        # Python lists from that point — per-element numpy scalar reads
        # cost more than the searchsorted itself
        n = len(parts)
        lens = _np.fromiter(map(len, parts), dtype=_np.int64, count=n)
        offs = _np.empty(n, dtype=_np.int64)
        offs[0] = a
        _np.cumsum(lens[:-1] + step, out=offs[1:])
        offs[1:] += a
        bounds = _np.empty(2 * n, dtype=_np.int64)
        bounds[0::2] = offs
        bounds[1::2] = offs + lens
        bl = bounds.tolist()
        il = _np.searchsorted(starts, bounds).tolist()
        # greedy merge of parts into token-budgeted pieces: a part joins
        # the current piece (with the separator between them) while the
        # sum stays within budget.  Plain joiners are the separator text
        # and lookahead parts are contiguous, so the merged piece is
        # always text[cur_a:cur_b]
        pieces: list = []
        cur_a = cur_b = cur_lo = cur_hi = 0
        cur_n = 0
        for k in range(n):
            k2 = 2 * k
            pa, pb = bl[k2], bl[k2 + 1]
            plo, phi = il[k2], il[k2 + 1]
            pn = phi - plo
            if cur_b > cur_a:  # the current piece is non-empty
                cand_n = cur_n + n_join + pn
                if cand_n > max_tokens:
                    pieces.append((cur_a, cur_b, cur_lo, cur_hi))
                    cur_a, cur_b, cur_lo, cur_hi, cur_n = pa, pb, plo, phi, pn
                else:
                    cur_b, cur_hi, cur_n = pb, phi, cand_n
            else:
                cur_a, cur_b, cur_lo, cur_hi, cur_n = pa, pb, plo, phi, pn
        if cur_b > cur_a:
            pieces.append((cur_a, cur_b, cur_lo, cur_hi))
        out: list = []
        for pa, pb, plo, phi in pieces:
            if phi - plo > max_tokens:
                out.extend(split_fast(pa, pb, plo, phi, depth + 1))
            else:
                out.append((pa, pb, plo, phi))
        return out

    pieces = split_fast(0, len(text), 0, n_total, 0)

    # attach overlap tails and compute offsets against the original text.
    # Contract: ``offset`` is the position of the chunk's NEW content
    # (the piece); ``content`` additionally carries the previous piece's
    # overlap tail, so text[offset:offset+length] != content when
    # overlap > 0 — length is len(content), offset is where the fresh
    # text begins (matches the reference's running-offset semantics, W3).
    chunks: list[dict] = []
    cursor = 0
    prev_tail = ""
    prev_tail_n = 0
    for a, b, lo, hi in pieces:
        piece = text[a:b]
        if not piece.strip():
            continue
        found = text.find(piece, cursor)
        if found < 0:
            # hard-window pieces overlap, so a piece can start BEFORE
            # the previous cursor — search from the top
            found = text.find(piece)
        offset = found if found >= 0 else cursor
        cursor = offset + len(piece)
        content = (prev_tail + piece) if prev_tail else piece
        if prev_tail:
            # tokens of the concatenation: the only junction effect is
            # two \w+ runs fusing into one (punct tokens are single
            # chars and never merge)
            fuse = 1 if (
                _WORD_RE.match(prev_tail[-1]) and _WORD_RE.match(piece[0])
            ) else 0
            n_content = prev_tail_n + (hi - lo) - fuse
        else:
            n_content = hi - lo
        if n_content < min_tokens:
            # min-chunk-size filter (reference langchain_chunker.py:82-92)
            prev_tail, prev_tail_n = _tail_from_spans(
                text, starts, b, lo, hi, overlap_tokens
            )
            continue
        chunks.append(
            {
                "chunk_id": len(chunks),
                "content": content,
                "offset": offset,
                "length": len(content),
            }
        )
        prev_tail, prev_tail_n = _tail_from_spans(
            text, starts, b, lo, hi, overlap_tokens
        )
    if not chunks and text.strip() and n_total >= min_tokens:
        chunks.append(
            {"chunk_id": 0, "content": text, "offset": 0, "length": len(text)}
        )
    return chunks


def _tail_from_spans(text, starts, b, lo, hi, n):
    """(tail string, its token count) of the piece ending at char ``b``
    with tokens [lo, hi): from the start of its ``n``-th-from-last token
    through the piece's end (trailing non-token chars included)."""
    if hi <= lo or n <= 0:
        return "", 0
    k = max(lo, hi - n)
    return text[int(starts[k]):b], hi - k


def chunk_fixed(
    df: DataFrame,
    text_col: str,
    size: int = 2048,
    overlap: int = 200,
    min_len: int = 1,
    out_col: str = "content",
    id_col: str = "chunk_id",
) -> DataFrame:
    """Fixed char-window splitter as pure column ops:
    chunk i covers [i*step, i*step+size), step = size-overlap.

    ``explode(sequence(...))`` keeps everything in codegen; at 100 TB
    this runs at scan speed with no shuffle (narrow transform)."""
    step = size - overlap
    if step <= 0:
        raise ValueError("size must exceed overlap")
    c = F.col(text_col)
    # last chunk index; 0 for empty strings (the empty chunk is dropped by
    # the min_len filter), NULL text rows drop at explode.
    n_chunks = F.greatest(F.floor((F.length(c) - F.lit(1)) / F.lit(step)), F.lit(0))
    out = (
        df.withColumn("_i", F.explode(F.sequence(F.lit(0), n_chunks)))
        .withColumn(id_col, F.col("_i").cast("int"))
        .withColumn(out_col, F.substring(c, F.col("_i") * step + 1, size))
        .drop("_i")
    )
    return out.filter(F.length(F.col(out_col)) >= min_len)
