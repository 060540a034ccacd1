"""Doc-analysis chunker (SURVEY.md C1, W2, F12; reference
chunking/chunkers/doc_analysis_chunker.py:20-500).

The reference sends PDFs/images to a layout-analysis service that
returns markdown with ``<!-- PageBreak -->`` separators, then:
  1. numbers the pagebreaks ``PageBreak00001``... (F12, :391-404),
  2. splits the markdown into token-budgeted chunks,
  3. attributes each chunk to a page by the FIRST marker inside it with
     a position rule — marker in the first half of the chunk means the
     chunk's content mostly FOLLOWS the break, so it belongs to the
     next page (W2, :406-446),
  4. giant PDFs are split into <=300-page parts analyzed separately,
     then re-merged with page renumbering (:85, utils/file_utils.py:77-138).

The analysis service itself is external; its offline stand-in is any
text that follows the markdown+PageBreak contract.  The sequential
semantics (marker numbering, page attribution) stay inside a
per-document pandas UDF per SURVEY.md §7 "hard parts" — window
functions over exploded rows cannot reproduce the reference's exact
sequential scan.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gpt_rag_ingestion_spark.chunking.splitter import (
    CHUNK_NUM_TOKENS,
    MIN_CHUNK_SIZE,
    TOKEN_OVERLAP,
    split_text_recursive,
)

PAGEBREAK_RAW = "<!-- PageBreak -->"
_MARKER_RE = re.compile(r"<!-- PageBreak(\d{5}) -->")
MAX_PAGES_PER_ANALYSIS = 300  # reference doc_analysis_chunker.py:85


def number_pagebreaks(md: str, start_page: int = 1) -> str:
    """F12: ``<!-- PageBreak -->`` -> ``<!-- PageBreak00001 -->`` etc.
    The marker number is the page that ENDS at the break; ``start_page``
    supports renumbering split parts."""
    counter = [start_page - 1]

    def repl(_m) -> str:
        counter[0] += 1
        return f"<!-- PageBreak{counter[0]:05d} -->"

    return re.sub(re.escape(PAGEBREAK_RAW), repl, md)


def renumber_markers(md: str, page_offset: int) -> str:
    """Shift existing numbered markers by ``page_offset`` (the merge step
    of the 300-page split path, reference utils/file_utils.py:122-138)."""
    return _MARKER_RE.sub(
        lambda m: f"<!-- PageBreak{int(m.group(1)) + page_offset:05d} -->", md
    )


def split_page_ranges(total_pages: int, max_per_part: int = MAX_PAGES_PER_ANALYSIS):
    """[(first_page, last_page)] parts of <= max_per_part pages."""
    out = []
    start = 1
    while start <= total_pages:
        end = min(start + max_per_part - 1, total_pages)
        out.append((start, end))
        start = end + 1
    return out


def attribute_page(chunk_text: str, current_page: int) -> tuple[int, int]:
    """W2: (page of this chunk, current_page for the next chunk).

    Reference semantics (doc_analysis_chunker.py:406-446): the chunk's
    page comes from the FIRST marker in the chunk (``re.search`` in
    ``_determine_chunk_page``) — in the first half of the chunk the
    content mostly follows the break -> next page, otherwise the page
    that ends at the marker.  ``current_page`` advances from the LAST
    marker (``_update_page``), and only when that marker's page is >=
    the current page (the guard against stray lower-numbered markers).
    """
    matches = list(_MARKER_RE.finditer(chunk_text))
    if not matches:
        return current_page, current_page
    first = matches[0]
    first_page = int(first.group(1))
    ratio = first.start() / max(len(chunk_text), 1)
    page = first_page + 1 if ratio < 0.5 else first_page
    last_page = int(matches[-1].group(1))
    next_current = last_page + 1 if last_page >= current_page else current_page
    return page, next_current


def strip_markers(text: str) -> str:
    return _MARKER_RE.sub("", text)


def chunk_analyzed_markdown(
    md: str,
    max_tokens: int = CHUNK_NUM_TOKENS,
    overlap: int = TOKEN_OVERLAP,
    min_tokens: int = MIN_CHUNK_SIZE,
    start_page: int = 1,
) -> list[dict]:
    """Full C1 path for one analyzed document: number breaks, split,
    attribute pages, strip markers."""
    numbered = number_pagebreaks(md or "", start_page=start_page)
    return _chunk_numbered(
        numbered, None, max_tokens, overlap, min_tokens, start_page
    )


def _chunk_numbered(
    numbered: str,
    spans,
    max_tokens: int,
    overlap: int,
    min_tokens: int,
    start_page: int,
) -> list[dict]:
    """``chunk_analyzed_markdown`` after numbering — split out so the
    batch kernel can tokenize every numbered document of an Arrow batch
    in one pass (``token_spans_batch``) and hand the spans down."""
    pieces = split_text_recursive(
        numbered, max_tokens=max_tokens, overlap_tokens=overlap,
        min_tokens=min_tokens, _spans=spans,
    )
    out = []
    current_page = start_page
    for p in pieces:
        page, current_page = attribute_page(p["content"], current_page)
        content = strip_markers(p["content"]).strip()
        if not content:
            continue
        out.append(
            {
                "chunk_id": len(out),
                "content": content,
                "page": page,
                "offset": p["offset"],
                "length": len(content),
            }
        )
    return out


def chunk_analyzed_documents(
    docs: DataFrame,
    md_col: str = "markdown",
    max_tokens: int = CHUNK_NUM_TOKENS,
    overlap: int = TOKEN_OVERLAP,
    min_tokens: int = MIN_CHUNK_SIZE,
    spread: bool = True,
    spread_by: str | None = None,
    start_page_col: str | None = None,
    pre=None,
) -> DataFrame:
    """DataFrame wrapper: one pandas-UDF call per analyzed document,
    exploding to page-attributed chunk rows.  Narrow map — no shuffle.
    ``start_page_col`` supplies a per-row first-page number (the giant-
    document part path).  ``pre`` (str -> str) is applied to each
    document's markdown INSIDE the kernel before chunking — callers
    that need a sequential per-document rewrite (the multimodal
    figure-tag numbering) fuse it here instead of paying a separate
    Python-UDF stage that ships every document across the Arrow
    boundary twice (and, running before the spread repartition, would
    execute single-task on an unsplittable input)."""

    import numpy as np

    from gpt_rag_ingestion_spark.session import (
        ensure_importable,
        spread_small_input,
    )

    ensure_importable(docs)
    # spread small single-file inputs across cores (no-op at real scale;
    # file-listing estimate, never a plan->RDD partition probe).
    # ``spread_by``: a document-key column — when given, the spread
    # hash-partitions on it instead of round-robin, skipping the local
    # sort a keyless repartition pays (the kernel is per-document, so
    # any even distribution is equivalent).
    if spread:
        docs = spread_small_input(docs, by=spread_by)

    # One mapInPandas stage with COLUMNAR output: the per-document
    # sequential semantics (marker numbering, page attribution) stay in
    # the Python kernel, but chunk rows leave Python as flat pandas
    # columns instead of ARRAY<STRUCT> + explode — the struct-building
    # Arrow crossing costs ~4x the chunking itself.
    keep = [c for c in docs.columns if c != md_col]
    by_name = {f.name: f for f in docs.schema.fields}
    out_schema = StructType(
        [by_name[c] for c in keep]
        + [
            StructField("chunk_id", IntegerType()),
            StructField("content", StringType()),
            StructField("page", IntegerType()),
            StructField("offset", LongType()),
            StructField("length", IntegerType()),
        ]
    )

    def gen(batches):
        from gpt_rag_ingestion_spark.chunking.pipeline import flatten_doc_lists
        from gpt_rag_ingestion_spark.chunking.splitter import token_spans_batch

        for pdf in batches:
            mds = pdf[md_col] if pre is None else [pre(s) for s in pdf[md_col]]
            if start_page_col is None:
                sps = [1] * len(pdf)
            else:
                sps = [
                    int(sp) if sp is not None else 1
                    for sp in pdf[start_page_col]
                ]
            # number first, then tokenize ALL numbered documents of the
            # batch in one vectorized pass — the splitter re-uses the
            # spans at every recursion level instead of re-tokenizing
            # each candidate piece (guide §4.2)
            numbered = [
                number_pagebreaks(s or "", start_page=sp)
                for s, sp in zip(mds, sps)
            ]
            spans = token_spans_batch(numbered)
            per_doc = [
                _chunk_numbered(
                    nmd, spn, max_tokens, overlap, min_tokens, sp
                )
                for nmd, spn, sp in zip(numbered, spans, sps)
            ]
            out, _ = flatten_doc_lists(
                pdf,
                keep,
                per_doc,
                [
                    ("chunk_id", np.int32),
                    ("content", None),
                    ("page", np.int32),
                    ("offset", np.int64),
                    ("length", np.int32),
                ],
            )
            yield pd.DataFrame(out)

    return docs.mapInPandas(gen, schema=out_schema)


def split_document_parts(
    docs: DataFrame,
    md_col: str = "markdown",
    doc_key_col: str = "doc_key",
    max_pages_per_part: int = MAX_PAGES_PER_ANALYSIS,
) -> DataFrame:
    """Giant-document part split AS ROWS (reference
    utils/file_utils.py:77-119 splits the PDF into <=300-page temp
    files; doc_analysis_chunker.py:128-276 analyzes them sequentially).

    Here the split happens on the analyzed-markdown contract at
    page-break boundaries, entirely JVM-side: split on the marker,
    group pages into runs of ``max_pages_per_part``, re-join each run
    with the marker.  One row per (doc, part) — so downstream analysis/
    chunking parallelizes across parts instead of looping on one
    worker, which is the point of the operator at 100 TB.  (Real PDF
    bytes enter this contract via ``pdf_bytes_to_markdown`` below —
    pypdf-gated, exercised by the optional-dep lane.)"""
    pages = F.split(F.col(md_col), re.escape(PAGEBREAK_RAW))
    n_parts = F.ceil(F.size(pages) / F.lit(max_pages_per_part)).cast("int")
    return _split_parts(docs, md_col, pages, n_parts, max_pages_per_part)


def pdf_bytes_to_markdown(data: bytes) -> str:
    """S14/U3 real-PDF branch (optional dependency): PDF bytes → the
    analyzed-markdown contract (per-page extracted text joined by
    ``<!-- PageBreak -->`` markers) — the offline stand-in for the
    reference's Document Intelligence call
    (tools/doc_intelligence.py:88-198), which returns markdown with
    the same markers.  Requires ``pypdf``; callers must gate
    (tests/test_optional_deps.py exercises the branch wherever the
    library exists).  Downstream (numbering, part-split, chunking) is
    identical to the synthetic-markdown path, so installing pypdf
    lights up real-PDF ingestion with no other change."""
    import io

    from pypdf import PdfReader  # optional dep — ImportError is the gate

    reader = PdfReader(io.BytesIO(data))
    texts = [(p.extract_text() or "").strip() for p in reader.pages]
    return f"\n{PAGEBREAK_RAW}\n".join(texts)


def _split_parts(docs, md_col, pages, n_parts, max_pages_per_part):
    part_mds = F.transform(
        F.sequence(F.lit(0), n_parts - 1),
        lambda i: F.array_join(
            F.slice(pages, i * max_pages_per_part + 1, max_pages_per_part),
            PAGEBREAK_RAW,
        ),
    )
    return docs.select(
        *[c for c in docs.columns if c != md_col],
        F.posexplode(part_mds).alias("part_idx", md_col),
    )


def chunk_document_parts(
    parts: DataFrame,
    md_col: str = "markdown",
    doc_key_col: str = "doc_key",
    part_idx_col: str = "part_idx",
    max_tokens: int = CHUNK_NUM_TOKENS,
    overlap: int = TOKEN_OVERLAP,
    min_tokens: int = MIN_CHUNK_SIZE,
) -> DataFrame:
    """Chunk per-part analyzed markdown with ABSOLUTE page numbers and
    re-aggregate per-document chunk ids (reference
    doc_analysis_chunker.py:203-276 merge semantics, parallelized).

    start_page of part k = 1 + Σ (pagebreaks+1) over parts < k (the
    reference's ``page_offset`` accumulation, :248-252) — a per-doc
    window over part counts, not a string merge.  Global chunk ids
    renumber (part_idx, chunk_id) per document; every other chunking
    step (numbering, attribution, min-size) is the standard C1 path."""
    from pyspark.sql import Window

    breaks = F.regexp_count(F.col(md_col), F.lit(re.escape(PAGEBREAK_RAW)))
    w_prev = (
        Window.partitionBy(doc_key_col)
        .orderBy(part_idx_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_sp = parts.withColumn("_pages_in_part", breaks + 1).withColumn(
        "_start_page",
        (F.coalesce(F.sum("_pages_in_part").over(w_prev), F.lit(0)) + 1).cast("int"),
    )
    chunked = chunk_analyzed_documents(
        with_sp,
        md_col=md_col,
        max_tokens=max_tokens,
        overlap=overlap,
        min_tokens=min_tokens,
        spread=False,
        start_page_col="_start_page",
    )
    w_doc = Window.partitionBy(doc_key_col).orderBy(part_idx_col, "chunk_id")
    return (
        chunked.withColumn("chunk_id", (F.row_number().over(w_doc) - 1).cast("int"))
        .drop("_pages_in_part", "_start_page")
    )


def chunk_giant_documents(
    docs: DataFrame,
    md_col: str = "markdown",
    doc_key_col: str = "doc_key",
    max_pages_per_part: int = MAX_PAGES_PER_ANALYSIS,
    max_tokens: int = CHUNK_NUM_TOKENS,
    overlap: int = TOKEN_OVERLAP,
    min_tokens: int = MIN_CHUNK_SIZE,
) -> DataFrame:
    """Composed giant-document path: split parts as rows -> chunk each
    part in parallel with absolute pages -> renumber chunk ids."""
    parts = split_document_parts(
        docs, md_col=md_col, doc_key_col=doc_key_col,
        max_pages_per_part=max_pages_per_part,
    )
    return chunk_document_parts(
        parts, md_col=md_col, doc_key_col=doc_key_col,
        max_tokens=max_tokens, overlap=overlap, min_tokens=min_tokens,
    ).drop("part_idx")
