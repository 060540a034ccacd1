"""Document → chunks pipeline (SURVEY.md §3.1 re-expressed Spark-first).

Reference lifecycle per document: download → chunk → enrich → embed →
map to index schema (reference jobs/blob_storage_indexer.py:430-777,
chunking/chunkers/base_chunker.py:154-234).  Here the whole corpus is
one DataFrame plan:

    documents
      -> ONE mapInPandas stage: split (C4) + byte-safe truncation (F6)
         + deterministic embedding (U1), columnar in and out
      -> deterministic ids (F1-F3) as JVM column expressions
      -> CHUNK_SCHEMA rows

Scale notes (100 TB):
- the whole Python section is a single Arrow-batched mapInPandas
  kernel emitting FLAT pandas columns (np.repeat for per-document
  metadata).  The earlier ARRAY<STRUCT>+explode shape paid a per-chunk
  Python-dict->Arrow-struct conversion worth ~4x the split itself and
  a second Python stage for embedding — both gone.  No shuffle
  anywhere in the pipeline — a narrow map from scan to sink, linear
  with executors.
- documents are processed where they are read (no repartition unless
  the source has pathological file sizing); embedding concurrency is
  the task count.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
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
    compile_separators,
    split_text_recursive,
)
from gpt_rag_ingestion_spark.functions.keys import chunk_key, sanitize_key
from gpt_rag_ingestion_spark.embeddings import embed_batch_np

_CHUNK_STRUCT = ArrayType(
    StructType(
        [
            StructField("chunk_id", IntegerType()),
            StructField("content", StringType()),
            StructField("offset", LongType()),
            StructField("length", IntegerType()),
        ]
    )
)


def make_split_one(
    max_tokens: int,
    overlap: int,
    min_tokens: int,
    separators: list | None = None,
):
    """The ONE implementation of split + 32,766-byte truncation (F6)
    shared by every chunk kernel in this module — the byte-cap contract
    must not fork between the ARRAY<STRUCT> and columnar paths.  Runs
    on the driver: a separator set the splitter refuses raises
    ``ValueError`` here, at plan build, not inside a Python worker."""
    from gpt_rag_ingestion_spark.functions.text import MAX_CONTENT_BYTES

    compile_separators(separators)

    def _split_one(s: str, spans=None) -> list[dict]:
        chunks = split_text_recursive(
            s or "", max_tokens=max_tokens, overlap_tokens=overlap,
            min_tokens=min_tokens, separators=separators, _spans=spans,
        )
        for c in chunks:
            b = c["content"].encode("utf-8")
            if len(b) > MAX_CONTENT_BYTES:
                c["content"] = b[:MAX_CONTENT_BYTES].decode("utf-8", "ignore")
                c["length"] = len(c["content"])
        return chunks

    return _split_one


def flatten_doc_lists(pdf, keep_cols, per_doc, fields):
    """Columnar explode-in-pandas: one output row per item of
    ``per_doc`` (a list of per-document dict lists), with the
    document-level ``keep_cols`` repeated via np.repeat and each
    ``fields`` entry ``(name, numpy dtype | None)`` pulled from the
    item dicts (None = object/string column).  Shared by the chunk
    kernels here and in doc_analysis so the flattening pattern has one
    implementation.  Returns (column dict, flat item list)."""
    import numpy as np

    counts = [len(r) for r in per_doc]
    flat = [c for r in per_doc for c in r]
    idx = np.repeat(np.arange(len(pdf)), counts)
    out = {}
    for c in keep_cols:
        out[c] = pdf[c].iloc[idx].reset_index(drop=True)
    for name, dt in fields:
        if dt is None:
            out[name] = pd.Series([c[name] for c in flat], dtype=object)
        else:
            out[name] = np.fromiter(
                (c[name] for c in flat), dtype=dt, count=len(flat)
            )
    return out, flat

def make_chunk_udf(
    max_tokens: int = CHUNK_NUM_TOKENS,
    overlap: int = TOKEN_OVERLAP,
    min_tokens: int = MIN_CHUNK_SIZE,
    separators: list | None = None,
):
    """Split + byte-safe truncation fused into ONE pandas UDF returning
    ARRAY<STRUCT> (32,766-byte cap, F6).  Used by chunkers that need
    the chunk array as a COLUMN (e.g. transcription: per-doc summary
    joins back onto each chunk); the corpus hot path uses the columnar
    mapInPandas kernel below instead."""
    from gpt_rag_ingestion_spark.session import ship_active

    ship_active()

    _split_one = make_split_one(max_tokens, overlap, min_tokens, separators)

    @pandas_udf(_CHUNK_STRUCT)
    def _chunk(texts: pd.Series) -> pd.Series:
        from gpt_rag_ingestion_spark.chunking.splitter import token_spans_batch

        spans = token_spans_batch(texts)
        return pd.Series(
            [_split_one(s, spn) for s, spn in zip(texts, spans)],
            index=texts.index,
        )

    return _chunk


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    doc_key_col: str = "doc_id",
    source_col: str | None = "source",
    embedding_dim: int = 64,
    max_tokens: int = CHUNK_NUM_TOKENS,
    overlap: int = TOKEN_OVERLAP,
    min_tokens: int = MIN_CHUNK_SIZE,
    carry_cols: list[str] | None = None,
    separators: list | None = None,
    spread: bool = True,
    timing_col: str | None = None,
) -> DataFrame:
    """Full chunk+embed pipeline over a documents DataFrame.

    Returns rows keyed like the reference's search docs: ``parent_id``
    (sanitized doc key), ``id`` (parent-c%05d, F2), chunk payload,
    ``contentVector`` from the deterministic embedder.  ``carry_cols``
    ride along unchanged (document-level metadata).  ``spread=False``
    skips the small-input repartition probe — pass it when the caller
    already spread the corpus (e.g. chunk_corpus), since the probe's
    plan->RDD conversion costs a query compilation per call.
    ``timing_col`` adds a DOUBLE column holding each chunk's document
    split seconds, measured per document inside the kernel — it feeds
    the ops log's per-file ``timings.chunkEmbedSec`` (reference
    blob_storage_indexer.py:617-628 times chunking per file)."""
    from gpt_rag_ingestion_spark.session import (
        ensure_importable,
        spread_small_input,
    )

    split_one = make_split_one(max_tokens, overlap, min_tokens, separators)
    ensure_importable(docs)
    # a small source (single parquet file) arrives as 1-2 partitions and
    # would serialize the whole UDF pipeline onto one core — spread it
    # (file-listing estimate, no plan->RDD probe).  At real scale inputs
    # already have >= cluster parallelism partitions and this is a no-op.
    # Hash-spread on the doc key: the kernel is per-document, so any
    # even distribution works, and a keyed repartition skips the local
    # sort a round-robin repartition pays (sortBeforeRepartition).
    if spread:
        docs = spread_small_input(docs, by=doc_key_col)

    carry = list(carry_cols or [])
    if source_col:
        carry = [source_col] + carry
    carry = list(dict.fromkeys(carry))
    # split + truncate + embed in ONE mapInPandas stage with COLUMNAR
    # output.  The ARRAY<STRUCT> + explode shape pays a per-chunk
    # Python-dict -> Arrow-struct conversion that costs ~4x the split
    # itself; emitting flat pandas columns (np.repeat for the
    # per-document carry values) keeps the Arrow crossing vectorized,
    # and the deterministic keys stay JVM-side column expressions.
    chunks = _chunk_embed_map_in_pandas(
        docs, text_col, doc_key_col, carry, split_one, embedding_dim,
        timing_col,
    )
    if timing_col:
        carry = carry + [timing_col]
    return (
        chunks.select(
            sanitize_key(F.col(doc_key_col).cast("string")).alias("parent_id"),
            *carry,
            "chunk_id",
            "offset",
            "length",
            "content",
            "contentVector",
        )
        .withColumn("id", chunk_key(F.col("parent_id"), F.col("chunk_id")))
        .select(
            "parent_id", *carry, "chunk_id", "offset", "length", "content",
            "id", "contentVector",
        )
    )


def _chunk_embed_map_in_pandas(
    docs: DataFrame,
    text_col: str,
    doc_key_col: str,
    carry: list,
    split_one,
    embedding_dim: int,
    timing_col: str | None = None,
):
    """mapInPandas chunk+embed kernel: one Python stage, columnar in and
    out.  Output rows = one per chunk, carrying the document key and
    ``carry`` columns (np.repeat), the document's split seconds as
    ``timing_col`` when set, plus chunk_id/offset/length/content/
    contentVector."""
    import time

    import numpy as np

    from gpt_rag_ingestion_spark.session import ship_active

    ship_active()

    # dedup (doc_key_col may also appear in carry) and reject carry
    # names that collide with the kernel's chunk output columns — either
    # would produce a duplicate-field schema or silently overwrite a
    # column in the output dict
    passthrough = list(dict.fromkeys([doc_key_col] + list(carry)))
    timed = [timing_col] if timing_col else []
    names = passthrough + timed
    bad = [
        c for c in names
        if c in ("chunk_id", "offset", "length", "content", "contentVector")
        or names.count(c) > 1
    ]
    if bad:
        raise ValueError(
            f"carry column(s) {bad} collide with chunk output columns"
        )
    # prune the Arrow input to what the kernel reads
    docs = docs.select(*dict.fromkeys(passthrough + [text_col]))
    by_name = {f.name: f for f in docs.schema.fields}
    out_schema = StructType(
        [by_name[c] for c in passthrough]
        + [StructField(c, DoubleType()) for c in timed]
        + [
            StructField("chunk_id", IntegerType()),
            StructField("offset", LongType()),
            StructField("length", IntegerType()),
            StructField("content", StringType()),
            StructField("contentVector", ArrayType(FloatType())),
        ]
    )

    def gen(batches):
        from gpt_rag_ingestion_spark.chunking.splitter import token_spans_batch

        for pdf in batches:
            spans = token_spans_batch(pdf[text_col])
            per_doc, secs = [], []
            for s, spn in zip(pdf[text_col], spans):
                t0 = time.monotonic()
                per_doc.append(split_one(s, spn))
                secs.append(round(time.monotonic() - t0, 6))
            if timing_col:
                pdf = pdf.assign(**{timing_col: secs})
            out, flat = flatten_doc_lists(
                pdf,
                names,
                per_doc,
                [
                    ("chunk_id", np.int32),
                    ("offset", np.int64),
                    ("length", np.int32),
                    ("content", None),
                ],
            )
            out["contentVector"] = pd.Series(
                embed_batch_np([c["content"] for c in flat], embedding_dim),
                dtype=object,
            )
            yield pd.DataFrame(out)

    return docs.mapInPandas(gen, schema=out_schema)
