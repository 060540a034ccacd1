"""Bucketed tables: co-located, exchange-free repeated joins.

At 100 TB the dominant recurring cost of the corpus jobs is the
shuffle of big-big joins (chunks ⨝ parents, postings ⨝ sizes,
corpus ⨝ membership).  Spark's persistent bucketing
(``CLUSTERED BY``) pays that shuffle ONCE at write time: both sides
hash-partitioned into the same number of buckets on the join key are
joined by a SortMergeJoin with **no Exchange on either side** — every
subsequent join, aggregation, or dedup keyed on the bucket column
reads co-located files.

The reference has no analog (its store is a search index); this is a
pure Spark-scale facility, the batch-layout sibling of
``layout.zorder_write`` (which optimizes range skipping, while
bucketing optimizes key joins).

Bucketed writes go through ``saveAsTable`` (bucket metadata lives in
the catalog, not parquet footers); ``write_bucketed`` wraps that with
an explicit ``path`` so data stays where every other engine table
lives.  ``assert_colocated_join`` is the PLANS.md-style proof hook:
it raises unless the physical plan of a bucketed join is
exchange-free, so layout regressions (bucket-count mismatch, a
column rename breaking bucket pruning) fail tests instead of
silently reintroducing the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Persist ``df`` as an external bucketed (and bucket-sorted)
    table.  Sorting within buckets lets the co-located SortMergeJoin
    skip its sort too — the plan is scan → join."""
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table_name)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
    hint: str | None = "merge",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key.  With equal
    bucket counts Catalyst plans a SortMergeJoin whose children are
    bare scans — no Exchange, no per-job shuffle.  The ``merge`` hint
    pins that shape: bucketing exists for big-big joins, and without
    the hint a sub-threshold side gets a BroadcastExchange that
    ignores the layout entirely (pass ``hint=None`` to let the
    planner choose when a side really is broadcast-small)."""
    right = spark.table(right_table)
    if hint:
        right = right.hint(hint)
    return spark.table(left_table).join(right, on=on, how=how)


def assert_colocated_join(df: DataFrame) -> None:
    """Raise unless ``df``'s physical plan contains a join and ZERO
    exchanges — the property bucketing exists to buy."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(
            "bucketed join plans an Exchange (bucket layout broken):\n"
            + plan[:2000]
        )
    if "Join" not in plan:
        raise AssertionError("no join in plan:\n" + plan[:2000])
