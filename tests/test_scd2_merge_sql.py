"""`scd2_merge_sql` coverage (VERDICT r1 item 6): the Delta MERGE twin was
untested code. No Delta jar is installable here and DuckDB 1.0 has no MERGE,
so the two statements are verified two ways:

1. golden-shape: the generated SQL reproduces the reference's MERGE
   structure (4_silver/silver_transactions.py:123-201) — ON key+is_current,
   null-unsafe `<>` OR-chain expire, NOT-MATCHED insert with audit columns.
2. semantic twin: the exact UPDATE/INSERT equivalence of those two MERGEs is
   executed on DuckDB against a fixture and the final table state must equal
   the plan-form `scd2_merge` output on the same fixture — including the
   latent null-unsafe rule (NULL→value transitions do NOT expire) — and,
   as a Hypothesis property, on generated targets and batches, compared
   as row multisets.
"""

from __future__ import annotations

import datetime as dt
import re
from collections import Counter

import duckdb
from hypothesis import given, settings, strategies as st

from end_to_end_azure_data_engineering_spark.operators.scd2 import (
    scd2_init,
    scd2_merge,
    scd2_merge_sql,
)

KEY = "txn_id"
COMPARE = ["txn_id", "amount", "status"]
PAYLOAD = ["txn_id", "amount", "status"]


def test_merge_sql_golden_shape():
    expire, insert = scd2_merge_sql("silver.txn", "stg", KEY, COMPARE, PAYLOAD)

    # both statements target the current slice of the key
    for sql in (expire, insert):
        assert re.search(r"MERGE INTO silver\.txn t USING stg s", sql)
        assert re.search(r"ON t\.txn_id = s\.txn_id AND t\.is_current = true", sql)

    # expire pass: null-unsafe <> OR-chain over non-key compare cols only,
    # flips is_current and stamps audit_modifieddate — nothing else
    assert "WHEN MATCHED AND (t.amount <> s.amount OR t.status <> s.status)" in expire
    assert "t.is_current = false" in expire
    assert "t.audit_modifieddate = current_timestamp()" in expire
    assert "t.txn_id <> s.txn_id" not in expire  # key never compared
    assert "INSERT" not in expire

    # insert pass: NOT MATCHED only, full payload + SCD2 flags in order
    assert "WHEN NOT MATCHED THEN INSERT" in insert
    assert (
        "(txn_id, amount, status, is_current, audit_insertdate, audit_modifieddate)"
        in insert
    )
    assert (
        "VALUES (s.txn_id, s.amount, s.status, true, current_timestamp(), current_timestamp())"
        in insert
    )
    assert "WHEN MATCHED" not in insert.replace("WHEN NOT MATCHED", "")


def _duckdb_merge(target_rows, batch_rows, now):
    """The two reference MERGEs as their exact UPDATE/INSERT equivalents on
    DuckDB (1.0 has no MERGE); returns the final table's rows."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (txn_id INT, amount DOUBLE, status VARCHAR, "
        "is_current BOOLEAN, audit_insertdate TIMESTAMP, audit_modifieddate TIMESTAMP)"
    )
    con.execute("CREATE TABLE s (txn_id INT, amount DOUBLE, status VARCHAR)")
    if target_rows:
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", target_rows)
    if batch_rows:
        con.executemany("INSERT INTO s VALUES (?, ?, ?)", batch_rows)

    # MERGE 1 equivalent: matched-and-changed current rows expire
    con.execute(
        f"""
        UPDATE t SET is_current = false, audit_modifieddate = TIMESTAMP '{now}'
        FROM s WHERE t.txn_id = s.txn_id AND t.is_current
          AND (t.amount <> s.amount OR t.status <> s.status)
        """
    )
    # MERGE 2 equivalent: source keys with no current row insert as current
    con.execute(
        f"""
        INSERT INTO t
        SELECT s.txn_id, s.amount, s.status, true,
               TIMESTAMP '{now}', TIMESTAMP '{now}'
        FROM s LEFT JOIN (SELECT txn_id FROM t WHERE is_current) c
          USING (txn_id)
        WHERE c.txn_id IS NULL
        """
    )
    return con.execute("SELECT * FROM t").fetchall()


def test_merge_sql_semantics_match_plan_form(spark):
    """Execute the MERGE statements' exact UPDATE/INSERT equivalents on
    DuckDB; final state must equal the plan-form scd2_merge (row multiset)."""
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)

    base = spark.createDataFrame(
        [(1, 100.0, "OPEN"), (2, 200.0, "OPEN"), (3, None, "OPEN")],
        "txn_id INT, amount DOUBLE, status STRING",
    )
    batch = spark.createDataFrame(
        # 1: changed → expire + insert; 2: unchanged → keep;
        # 3: NULL→value on amount only → null-unsafe <> must NOT expire;
        # 4: brand new → insert
        [(1, 150.0, "OPEN"), (2, 200.0, "OPEN"), (3, 300.0, "OPEN"), (4, 50.0, "NEW")],
        "txn_id INT, amount DOUBLE, status STRING",
    )

    target = scd2_init(base, t0)
    plan_rows = {
        tuple(r)
        for r in scd2_merge(target, batch, KEY, COMPARE, t1)
        .select(*PAYLOAD, "is_current", "audit_insertdate", "audit_modifieddate")
        .collect()
    }

    duck_rows = set(
        _duckdb_merge(
            [(r.txn_id, r.amount, r.status, True, t0, t0) for r in base.collect()],
            [tuple(r) for r in batch.collect()],
            t1,
        )
    )

    assert plan_rows == duck_rows
    # the latent semantics explicitly: key 3 (NULL→300.0) kept its original
    # current row — no expire, no second version
    k3 = [r for r in duck_rows if r[0] == 3]
    assert k3 == [(3, None, "OPEN", True, t0, t0)]


_T0, _T1, _T2 = (dt.datetime(2024, m, 1) for m in (1, 2, 3))
_AMOUNT = st.one_of(st.none(), st.sampled_from([1.0, 2.5]))
_STATUS = st.one_of(st.none(), st.sampled_from(["OPEN", "CLOSED"]))
_TARGET_SCHEMA = (
    "txn_id INT, amount DOUBLE, status STRING, is_current BOOLEAN, "
    "audit_insertdate TIMESTAMP, audit_modifieddate TIMESTAMP"
)


@st.composite
def _merge_case(draw):
    """A target with history rows, at most one current row per key and
    NULL compare values, and a batch with unique keys in which each current
    key is absent, unchanged, changed, NULL→value or value→NULL, plus new
    keys and a NULL key."""
    hist = draw(st.lists(st.tuples(st.integers(1, 8), _AMOUNT, _STATUS), max_size=4))
    current = draw(
        st.lists(
            st.tuples(st.one_of(st.none(), st.integers(1, 6)), _AMOUNT, _STATUS),
            max_size=5, unique_by=lambda r: r[0],
        )
    )
    target = [(k, a, s, False, _T0, _T1) for k, a, s in hist]
    target += [(k, a, s, True, _T1, _T1) for k, a, s in current]

    batch = []
    for k, a, s in current:
        if k is None:
            continue  # a NULL key never matches: covered by the batch's own
        kind = draw(st.sampled_from(
            ["absent", "unchanged", "changed", "null_to_value", "value_to_null"]
        ))
        if kind == "unchanged":
            batch.append((k, a, s))
        elif kind == "changed":
            batch.append((k, a, "CLOSED" if s == "OPEN" else "OPEN"))
        elif kind == "null_to_value":
            batch.append((k, 1.0 if a is None else a, "OPEN" if s is None else s))
        elif kind == "value_to_null":
            batch.append((k, None, s))
    taken = {k for k, _, _ in current}
    for k in draw(st.lists(st.integers(1, 9), max_size=3, unique=True)):
        if k not in taken:
            batch.append((k, draw(_AMOUNT), draw(_STATUS)))
    if draw(st.booleans()):
        batch.append((None, draw(_AMOUNT), draw(_STATUS)))
    return target, batch


@settings(max_examples=10, deadline=None)
@given(_merge_case())
def test_merge_matches_duckdb_twin_as_multiset(spark, case):
    """Property form of the twin test: for generated targets and batches
    the plan-form merge yields the DuckDB MERGE equivalent's rows, compared
    as multisets so a duplicated or dropped row fails too."""
    target, batch = case
    merged = scd2_merge(
        spark.createDataFrame(target, _TARGET_SCHEMA),
        spark.createDataFrame(batch, "txn_id INT, amount DOUBLE, status STRING"),
        KEY, COMPARE, _T2,
    )
    got = Counter(map(tuple, merged.collect()))
    assert got == Counter(_duckdb_merge(target, batch, _T2)), case


def test_snapshot_asof_null_unsafe_and_expiry(spark):
    """scd2_snapshot_asof reconstructs mid-history state, including the two
    cases the driver testdata cannot exercise: (a) a NULL source value does
    NOT expire the standing row (null-unsafe `<>`), so the as-of state
    keeps the older value; (b) a row expired AFTER the as-of point must
    reappear in the snapshot."""
    import datetime as dt

    from end_to_end_azure_data_engineering_spark.operators.scd2 import (
        scd2_init, scd2_merge, scd2_snapshot_asof,
    )
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    t0, t1, t2 = (dt.datetime(2024, 1, d) for d in (1, 2, 3))
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema)
    b1 = spark.createDataFrame([("a", None), ("b", 5.0)], schema)  # a: NULL vs 1.0
    b2 = spark.createDataFrame([("b", 9.0)], schema)

    state = scd2_merge(scd2_init(b0, t0), b1, "k", ["v"], t1)
    state = scd2_merge(state, b2, "k", ["v"], t2)

    snap1 = {r.k: r.v for r in scd2_snapshot_asof(state, t1).collect()}
    # (a) NULL <> 1.0 is not a change: 'a' keeps 1.0 at t1
    # (b) 'b' changed at t1 (5.0) and again at t2 (9.0): the t1 row was
    #     expired at t2, but the t1 snapshot must still show 5.0
    assert snap1 == {"a": 1.0, "b": 5.0}

    snap2 = {r.k: r.v for r in scd2_snapshot_asof(state, t2).collect()}
    assert snap2 == {"a": 1.0, "b": 9.0}

    snap0 = {r.k: r.v for r in scd2_snapshot_asof(state, t0).collect()}
    assert snap0 == {"a": 1.0, "b": 2.0}
