"""Test oracle for ``chunking.splitter.split_text_recursive``.

A direct, self-contained reading of the recursive splitter's contract
(the reference's LangChain RecursiveCharacterTextSplitter
configuration): it re-tokenizes every candidate piece with the regex
and concatenates strings, where the engine derives every count from
one token-span array.  It imports nothing from the engine, so the two
cannot share a bug.
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(r"\w+|[^\w\s]")
DEFAULT_SEPARATORS = ["\n\n", "\n", ". ", " "]


def _ntokens(s):
    return len(_TOKEN_RE.findall(s))


def _split_once(s, sep):
    """One split level.  Plain separators drop the separator from the
    parts (re-inserted on merge); ("sep", "start") keeps the separator
    glued to the following part."""
    if isinstance(sep, tuple):
        parts = re.split(f"(?={re.escape(sep[0])})", s)
        return [p for p in parts if p != ""], ""
    return s.split(sep), sep


def _tail_tokens(s, n):
    """From the start of the ``n``-th-from-last token through the end."""
    toks = list(_TOKEN_RE.finditer(s))
    if not toks or n <= 0:
        return ""
    return s[toks[max(0, len(toks) - n)].start():]


def reference_split(text, max_tokens, overlap_tokens, min_tokens,
                    separators=None):
    """Chunks of ``text`` as ``split_text_recursive`` must return them."""
    if not text:
        return []

    def split_rec(s, seps):
        if _ntokens(s) <= max_tokens:
            return [s]
        if not seps:
            toks = list(_TOKEN_RE.finditer(s))
            out, i = [], 0
            while i < len(toks):
                j = min(i + max_tokens, len(toks))
                out.append(s[toks[i].start():toks[j - 1].end()])
                if j == len(toks):
                    break
                i = j - overlap_tokens if j - overlap_tokens > i else j
            return out
        sep, rest = seps[0], seps[1:]
        parts, joiner = _split_once(s, sep)
        if len(parts) <= 1:
            return split_rec(s, rest)
        pieces, cur = [], ""
        for p in parts:
            cand = cur + joiner + p if cur else p
            if cur and _ntokens(cand) > max_tokens:
                pieces.append(cur)
                cur = p
            else:
                cur = cand
        if cur:
            pieces.append(cur)
        out = []
        for piece in pieces:
            out.extend(
                split_rec(piece, rest) if _ntokens(piece) > max_tokens else [piece]
            )
        return out

    pieces = split_rec(
        text, separators if separators is not None else DEFAULT_SEPARATORS
    )
    chunks, cursor, prev_tail = [], 0, ""
    for piece in pieces:
        if not piece.strip():
            continue
        found = text.find(piece, cursor)
        if found < 0:
            found = text.find(piece)
        offset = found if found >= 0 else cursor
        cursor = offset + len(piece)
        content = (prev_tail + piece) if prev_tail else piece
        if _ntokens(content) < min_tokens:
            prev_tail = _tail_tokens(piece, overlap_tokens)
            continue
        chunks.append(
            {"chunk_id": len(chunks), "content": content, "offset": offset,
             "length": len(content)}
        )
        prev_tail = _tail_tokens(piece, overlap_tokens)
    if not chunks and text.strip() and _ntokens(text) >= min_tokens:
        chunks.append(
            {"chunk_id": 0, "content": text, "offset": 0, "length": len(text)}
        )
    return chunks
