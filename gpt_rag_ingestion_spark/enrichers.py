"""LLM enrichers (SURVEY.md U2; reference tools/aoai.py:133-208).

The reference calls a completion endpoint for: spreadsheet sheet
summaries (C3), transcript summaries (C5), and figure captions (C2,
<=200 words).  Like embeddings, the enricher is a pluggable
Arrow-batched pandas UDF with a deterministic offline implementation so
pipelines are reproducible and oracle-checkable without a network.

The deterministic "summary" is an extractive stub: first sentence +
top-k distinct tokens — stable, content-derived, and obviously
replaceable by a real endpoint at deploy time (same signature, same
truncation contract)."""

from __future__ import annotations

import re

MAX_CAPTION_WORDS = 200  # reference multimodal_chunker.py:530-534


def summarize_deterministic(text: str, max_words: int = 40) -> str:
    """Extractive stand-in for the LLM summary: first sentence, then the
    most frequent distinct tokens (ties alphabetical)."""
    if not text:
        return ""
    first = re.split(r"(?<=[.!?])\s", text.strip(), maxsplit=1)[0]
    toks = re.findall(r"[A-Za-z0-9]+", text.lower())
    freq: dict[str, int] = {}
    for t in toks:
        freq[t] = freq.get(t, 0) + 1
    top = sorted(freq, key=lambda t: (-freq[t], t))[:8]
    out = f"{first} [keywords: {', '.join(top)}]"
    words = out.split()
    return " ".join(words[:max_words])


def caption_deterministic(payload: bytes, max_words: int = MAX_CAPTION_WORDS) -> str:
    """Figure-caption stand-in: content-addressed description (the real
    GPT-vision call plugs in here with the same <=200-word contract)."""
    import hashlib

    h = hashlib.sha256(payload or b"").hexdigest()
    return f"figure sha256:{h[:16]} ({len(payload or b'')} bytes)"[: max_words * 8]


def caption_expr(payload_col, max_words: int = MAX_CAPTION_WORDS):
    """JVM twin of :func:`caption_deterministic`: the deterministic
    caption is sha256 + length formatting, both Spark built-ins, so the
    production path can caption figures without shipping the image
    bytes across the Python boundary (guide §4.1 — the payload is the
    heavy column; the pandas-UDF form paid an ArrowEvalPython crossing
    of every image for a string the JVM can build itself).  Byte-equal
    to the Python form by test; a real GPT-vision enricher plugs back
    in as a pandas UDF with the same column contract."""
    from pyspark.sql import functions as F

    p = F.coalesce(payload_col, F.lit(b""))
    return F.substring(
        F.concat(
            F.lit("figure sha256:"),
            F.substring(F.sha2(p, 256), 1, 16),
            F.lit(" ("),
            F.length(p).cast("string"),
            F.lit(" bytes)"),
        ),
        1,
        max_words * 8,
    )


def call_with_backoff(
    fn,
    max_attempts: int = 20,
    base_seconds: float = 1.0,
    cap_seconds: float = 60.0,
    sleep=None,
    retryable=(TimeoutError, ConnectionError),
):
    """U1/U4/A5: the reference's 429 retry ladder (tools/aoai.py:85-131)
    as a reusable wrapper for external-call UDFs: exponential backoff
    with a cap, returning (result, retry_count, total_wait_seconds) so
    usage accounting lands in columns (ops_log cost/timing model).

    ``sleep`` is injectable for deterministic tests; inside a pandas UDF
    the default time.sleep bounds each task's call rate."""
    import time

    sleep = sleep or time.sleep
    waited = 0.0
    for attempt in range(max_attempts):
        try:
            return fn(), attempt, round(waited, 3)
        except retryable:
            if attempt == max_attempts - 1:
                raise
            delay = min(cap_seconds, base_seconds * (2**attempt))
            sleep(delay)
            waited += delay
    raise RuntimeError("unreachable")
