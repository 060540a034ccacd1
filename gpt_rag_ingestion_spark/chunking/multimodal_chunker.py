"""Multimodal chunker composition (SURVEY.md C2; reference
chunking/chunkers/multimodal_chunker.py:15-546).

Extends the doc-analysis path with figures: analyzed markdown with
``<figure>…</figure>`` spans + a figures sidecar (id, polygon, page
dims, image payload) →

  1. sequential figure-tag rewrite ``<figureN>`` (F15),
  2. area filter: keep figures covering > 4% of the page (P9/F19),
  3. caption each kept figure (U2 stub — the GPT-vision call site),
  4. page-attributed chunking of the rewritten markdown (C1/W2),
  5. figure↔chunk join on exploded refs (J8),
  6. per chunk: imageCaptions text, captionVector (embedding of the
     captions; zero-vector when the chunk has no figures —
     reference base_chunker.py:228), relatedImages urls.

Structure: everything after the per-document tag rewrite is relational
(filter, join, groupBy) — the sequential parts stay in per-doc UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.doc_analysis import chunk_analyzed_documents
from gpt_rag_ingestion_spark.embeddings import hash_embedding_udf
from gpt_rag_ingestion_spark.enrichers import caption_expr
from gpt_rag_ingestion_spark.functions.keys import chunk_key, sanitize_key
from gpt_rag_ingestion_spark.functions.markdown import number_figures
from gpt_rag_ingestion_spark.operators.figures import filter_significant_figures


def _zero_vec(dim: int):
    """The all-zero ``array<float>`` vector of ``dim`` elements as one
    SQL parse instead of dim+2 py4j calls of literal building (pinned
    sameSemantics against the ``F.array(*lits)`` form)."""
    return F.expr(
        "CAST(array(" + ", ".join(["0.0D"] * dim) + ") AS ARRAY<FLOAT>)"
    )


def chunk_multimodal_documents(
    docs: DataFrame,
    figures: DataFrame,
    md_col: str = "markdown",
    doc_key_col: str = "doc_key",
    embedding_dim: int = 64,
    max_tokens: int = 2048,
    overlap: int = 200,
    min_tokens: int = 10,
) -> DataFrame:
    """C2 end-to-end.  ``figures`` columns: doc_key, figure_id (STRING,
    matching the sequential rewrite order), polygon ARRAY<DOUBLE>,
    page_width, page_height, image BINARY, image_url STRING."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(docs)
    embed = hash_embedding_udf(embedding_dim)

    # 2. filter figures by page-area share
    kept_figs = filter_significant_figures(figures)

    # 3. captions (the external-vision call site).  The deterministic
    # stub is pure sha256+length formatting, so it runs as JVM
    # built-ins — no ArrowEvalPython node, and the image BYTES never
    # cross into Python (guide §4.1).  A real vision model re-enters
    # here as a pandas UDF over the same column.
    kept_figs = kept_figs.withColumn("caption", caption_expr(F.col("image")))

    # 1+4. figure-tag rewrite FUSED into the page-attributed chunking
    # kernel (C1) via ``pre`` — one Python stage instead of two, and
    # the sequential rewrite runs after the spread repartition instead
    # of single-task on an unsplittable scan.
    chunks = chunk_analyzed_documents(
        docs.withColumn(
            "parent_id", sanitize_key(F.col(doc_key_col).cast("string"))
        ).select("parent_id", F.col(md_col).alias("md")),
        md_col="md",
        max_tokens=max_tokens,
        overlap=overlap,
        min_tokens=min_tokens,
        spread_by="parent_id",
        pre=lambda s: number_figures(s or "")[0],
    ).withColumn("id", chunk_key(F.col("parent_id"), F.col("chunk_id")))

    fig_keyed = kept_figs.withColumn(
        "parent_id", sanitize_key(F.col(doc_key_col).cast("string"))
    )

    # 5+6. figure join + captions + dropped-tag strip in ONE pass.
    # Figures are per-document and few, so the join side collapses to a
    # map(figure_id -> (caption, url)) per document (J8 — the exact
    # analog of the reference's figures_dict, multimodal_chunker.py:
    # 238-258).  Everything downstream is array algebra on the chunk
    # row: refs from the regex, kept refs via map lookup, captions
    # sorted per chunk, tags of dropped figures blanked (reference
    # :255-275).  The chunk-UDF subtree is consumed exactly ONCE and
    # the only added shuffle is the tiny figures-side groupBy — at
    # corpus scale the join is per-parent equi-join AQE can broadcast.
    from gpt_rag_ingestion_spark.operators.figures import FIGURE_REF_REGEX

    figmaps = fig_keyed.groupBy("parent_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("figure_id"),
                    F.struct(F.col("caption"), F.col("image_url")),
                )
            )
        ).alias("_figs")
    )

    refs_arr = F.regexp_extract_all(F.col("content"), F.lit(FIGURE_REF_REGEX), 1)
    figs = F.coalesce(F.col("_figs"), F.map_from_arrays(F.array(), F.array()))
    # reference keeps duplicate refs when building captions (re.findall)
    kept_refs = F.filter(refs_arr, lambda r: F.map_contains_key(figs, r))
    unkept = F.array_except(F.array_distinct(refs_arr), kept_refs)
    captions = F.when(
        F.size(kept_refs) > 0,
        F.concat_ws(
            "\n",
            F.sort_array(F.transform(kept_refs, lambda r: figs[r]["caption"])),
        ),
    )
    related = F.when(
        F.size(kept_refs) > 0,
        F.sort_array(
            F.array_distinct(F.transform(kept_refs, lambda r: figs[r]["image_url"]))
        ),
    )
    stripped = F.aggregate(
        unkept,
        F.col("content"),
        lambda acc, fid: F.replace(
            F.replace(acc, F.concat(F.lit("<figure"), fid, F.lit(">")), F.lit("")),
            F.concat(F.lit("</figure"), fid, F.lit(">")),
            F.lit(""),
        ),
    )
    zero_vec = _zero_vec(embedding_dim)
    # two withColumns batches instead of six chained withColumn plan
    # rebuilds (guide §5 driver overhead) — the split preserves the
    # dependency chain (length/contentVector/captionVector read the
    # REASSIGNED content and the new imageCaptions), and the optimized
    # plan is identical to the chained form (Catalyst sameResult
    # proven; the chain's nested Projects collapse to the same two)
    out = (
        chunks.join(figmaps, on="parent_id", how="left")
        .withColumns(
            {
                "imageCaptions": captions,
                "relatedImages": related,
                "content": stripped,
            }
        )
        .drop("_figs")
        .withColumns(
            {
                "length": F.length("content"),
                "contentVector": embed(F.col("content")),
                "captionVector": F.when(
                    F.col("imageCaptions").isNotNull(),
                    embed(F.col("imageCaptions")),
                ).otherwise(zero_vec),
            }
        )
    )
    return out
