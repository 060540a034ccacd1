"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at the given
sf dir, compare row-count + column names + order-insensitive value
hash (columns sorted by name, rows sorted, floats rounded)."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _nonscalar_columns(schema):
    """Top-level ARRAY/STRUCT/MAP columns — the driver's pandas
    canonicalizer cannot sort/factorize them (unhashable cells)."""
    from pyspark.sql import types as T

    bad_types = (T.ArrayType, T.StructType, T.MapType)
    return [
        f.name for f in schema.fields if isinstance(f.dataType, bad_types)
    ]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.6g}")
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            elif isinstance(v, bytes):
                vals.append(v.hex())
            else:
                vals.append(repr(v))
        out.append("\x01".join(vals))
    out.sort()
    return hashlib.sha256("\n".join(out).encode()).hexdigest()


def check_registry(entry_mod) -> None:
    """r5 judge brief #2: the queries() registry is load-bearing in two
    ways a plain dict can't protect — the FIRST 50 keys are the
    driver's correctness window, and Python silently collapses
    duplicate literal keys (a misplaced paste could evict a window
    slot with no test firing).  Assert (a) the dict matches the pinned
    DRIVER_WINDOW, (b) the SOURCE literal has zero duplicate keys, and
    (c) the registry/oracle counts are what QUERIES.md documents."""
    import inspect
    import re

    qs = entry_mod.queries()
    window = entry_mod.DRIVER_WINDOW
    assert len(window) == 50, f"DRIVER_WINDOW has {len(window)} ids"
    got_first = list(qs)[:50]
    assert got_first == window, (
        "driver window drifted from DRIVER_WINDOW:\n"
        f"  missing: {[k for k in window if k not in got_first]}\n"
        f"  intruding: {[k for k in got_first if k not in window]}"
    )
    src = inspect.getsource(entry_mod.queries)
    literal_keys = re.findall(r'"(q\d+_\w+)":', src)
    dupes = sorted(
        {k for k in literal_keys if literal_keys.count(k) > 1}
    )
    assert not dupes, f"duplicate keys in queries() literal: {dupes}"
    assert len(literal_keys) == len(qs), (
        f"literal has {len(literal_keys)} keys but dict has {len(qs)}"
    )
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs), sorted(set(oracles) - set(qs))
    print(
        f"registry: {len(qs)} queries ({len(oracles)} oracle-backed), "
        "window pinned, no duplicate keys"
    )


#: DuckDB output types the driver's pandas canonicalizer coerces to
#: float64 (HUGEINT/UHUGEINT) or object/Decimal (DECIMAL) — either way
#: the value hash diverges from Spark's int64/double even when the
#: values are identical (r6 judge: q108/q130).  Same class-closing
#: move as the non-scalar-column guard above.
_BAD_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def check_oracle_types(con, oracles) -> list[str]:
    """DESCRIBE every oracle (plans only — no execution) and reject
    HUGEINT/UHUGEINT/DECIMAL output columns; DuckDB silently promotes
    SUM(BIGINT)->HUGEINT and integer division keeps it, so any new
    oracle with SUM-derived arithmetic can regress without this."""
    bad = []
    for name, sql in oracles.items():
        try:
            rows = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            bad.append(f"{name}: DESCRIBE failed {type(e).__name__}: {str(e)[:200]}")
            continue
        for col, ctype, *_ in rows:
            if any(t in ctype.upper() for t in _BAD_ORACLE_TYPES):
                bad.append(
                    f"{name}: column {col!r} is {ctype} — CAST it "
                    "(driver canonicalizer coerces to float64/object)"
                )
    for line in bad:
        print("ORACLE TYPE GUARD:", line)
    if not bad:
        print(f"oracle type guard: {len(oracles)} oracles DESCRIBEd, "
              "no HUGEINT/UHUGEINT/DECIMAL outputs")
    return bad


def main(sf_dir: str, only: list[str] | None = None):
    import __spark_entry__ as entry_mod
    from scripts.harness import session

    check_registry(entry_mod)

    spark = session("check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    failures.extend(
        name.split(":", 1)[0] for name in check_oracle_types(con, oracles)
    )
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            bad = _nonscalar_columns(sdf.schema)
            if bad:
                # the driver's pandas canonicalizer sort_values()-dies on
                # unhashable cells (lists/dicts), so any top-level
                # ARRAY/STRUCT/MAP column is a guaranteed driver 'err'
                # even though local repr()-hashing would pass it
                print(
                    f"{name}: SHAPE ERROR non-scalar top-level columns "
                    f"{bad} — driver canonicalizer rejects these; "
                    f"serialize (array_join/to_json) in query AND oracle"
                )
                failures.append(name)
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"{name}: rows-only (no oracle) rows={len(srows)} spark={t1-t0:.1f}s")
            if len(srows) == 0:
                print(f"  WARNING: 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        sh = normalize(srows, scols)
        oh = normalize(orows, ocols)
        ok_hash = sh == oh
        status = "OK" if (ok_count and ok_cols and ok_hash) else "MISMATCH"
        print(
            f"{name}: {status} rows={len(srows)}/{len(orows)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash={'ok' if ok_hash else 'DIFF'} spark={t1-t0:.1f}s"
        )
        if status != "OK":
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sys.exit(main(sf, only))
