"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names, and an
order-insensitive value representation. Use while iterating:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# DuckDB output types that hash-mismatch the driver even when every value is
# numerically equal: the driver's comparison is dtype-sensitive (HUGEINT and
# DECIMAL surface as float64/object in pandas, vs Spark's int64/Decimal —
# round 2 failed 8 queries on exactly this). Oracles must CAST integer sums
# to BIGINT and emit DOUBLE instead of DECIMAL.
# (TINYINT/SMALLINT are fine: they stay integer-valued in pandas and
# stringify identically to int64 — dedup_simhash_pairs passed the driver's
# round-2 hash with a TINYINT column.)
_HAZARD_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _norm_cell(v):
    # Full-precision, TYPE-TAGGED comparison — strictly at least as strict
    # as the driver's exact value-hash. Floats compare by repr (round-trip
    # exact); ints and floats never compare equal (5 != 5.0), mirroring the
    # driver's dtype-sensitive hash. Never collapse precision here or the
    # local gate green-lights what the driver rejects (that laxity shipped
    # 3 hash failures in round 1; type-blind str() shipped 8 in round 2).
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm_cell(r[i]) for i in idx) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from end_to_end_azure_data_engineering_spark.engine import get_spark
    from end_to_end_azure_data_engineering_spark.engine.pin import release

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = ent.queries(), ent.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # deterministic checkpoint release (same mechanism as bench.py):
            # eager dedup/CC queries otherwise accumulate block-manager
            # pressure across the 202-query sweep
            release(sdf)
            # CacheManager entries are keyed by LOGICAL PLAN and object GC
            # never removes them; the package's engine.pin.cached scopes
            # drop theirs on exit, and this clear keeps any other entry
            # from carrying into the next query.
            # Correctness runs never reuse caches across queries; bench.py
            # deliberately does NOT do this (its warm second run may reuse
            # a query's own cached frames — documented methodology).
            spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows (no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        hazards = [
            f"{c}:{t}"
            for c, t in zip(dcols, dtypes)
            if any(t.startswith(h) for h in _HAZARD_TYPES)
        ]
        if hazards:
            problems.append(
                "oracle dtype hazard (driver hashes dtype-sensitively; "
                "CAST to BIGINT/DOUBLE): " + ", ".join(hazards)
            )
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if not problems:
            a, b = _norm_rows(scols, srows), _norm_rows(dcols, drows)
            if a != b:
                diff = next(
                    (i for i, (x, y) in enumerate(zip(a, b)) if x != y), None
                )
                problems.append(
                    f"values differ (first at sorted idx {diff}):\n"
                    f"    spark : {a[diff] if diff is not None else '?'}\n"
                    f"    duckdb: {b[diff] if diff is not None else '?'}"
                )
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name}: {len(srows)} rows")

    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
