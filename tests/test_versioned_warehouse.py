"""VersionedWarehouse (engine/tableio.py): MVCC semantics on parquet —
atomic pointer commits, snapshot isolation for in-flight readers, time
travel, vacuum retention. The parquet-only answer to the reference's Delta
ACID layer (4_silver/silver_transactions.py:50-51)."""

import os
import time

import pytest

from end_to_end_azure_data_engineering_spark.engine.tableio import VersionedWarehouse


@pytest.fixture()
def vwh(spark, tmp_path):
    return VersionedWarehouse(spark, str(tmp_path / "wh"))


@pytest.fixture()
def count_vacuum(monkeypatch):
    """Count-based vacuum only: versions superseded moments ago are
    swept at once, so a test can assert the keep-window."""
    monkeypatch.setattr(VersionedWarehouse, "SUPERSEDED_SWEEP_AFTER", 0.0)


def _df(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "x INT")


def test_commit_read_roundtrip_and_versions(spark, vwh):
    assert vwh.current_version("silver", "t") is None
    v0 = vwh.commit(_df(spark, 1, 2), "silver", "t")
    v1 = vwh.commit(_df(spark, 3), "silver", "t")
    assert (v0, v1) == (0, 1)
    assert vwh.current_version("silver", "t") == 1
    assert {r.x for r in vwh.read("silver", "t").collect()} == {3}


def test_corrupt_pointer_raises_descriptive_error(spark, vwh):
    """A torn/garbled _CURRENT must surface as a named corruption error
    (with repair guidance), never a bare ValueError — and never silently
    promote an unpublished version directory."""
    vwh.commit(_df(spark, 1), "silver", "t")
    vwh._pointer("silver", "t").write_text("")  # simulate torn write
    with pytest.raises(RuntimeError, match="_CURRENT pointer is corrupt"):
        vwh.current_version("silver", "t")


def test_time_travel_reads_immutable_history(spark, vwh):
    vwh.commit(_df(spark, 1, 2), "silver", "t")
    vwh.commit(_df(spark, 3), "silver", "t")
    assert {r.x for r in vwh.read("silver", "t", version=0).collect()} == {1, 2}
    assert vwh.versions("silver", "t") == [0, 1]


def test_snapshot_isolation_for_inflight_reader(spark, vwh):
    """A reader that resolved its snapshot BEFORE a new commit keeps seeing
    the old, immutable version directory — the commit only moves the
    pointer."""
    vwh.commit(_df(spark, 1, 2), "silver", "t")
    snapshot = vwh.read("silver", "t")  # resolves _v0
    vwh.commit(_df(spark, 99), "silver", "t")
    assert {r.x for r in snapshot.collect()} == {1, 2}
    assert {r.x for r in vwh.read("silver", "t").collect()} == {99}


def test_vacuum_keeps_published_and_recent(spark, vwh, count_vacuum):
    for i in range(4):
        vwh.commit(_df(spark, i), "silver", "t")
    removed = vwh.vacuum("silver", "t", keep=2)
    assert removed == [0, 1]
    assert vwh.versions("silver", "t") == [2, 3]
    assert {r.x for r in vwh.read("silver", "t").collect()} == {3}
    with pytest.raises(FileNotFoundError):
        vwh.read("silver", "t", version=0)


def test_vacuum_never_drops_current_pointer_target(spark, vwh):
    vwh.commit(_df(spark, 1), "silver", "t")
    vwh.commit(_df(spark, 2), "silver", "t")
    # roll the pointer BACK to v0 (manual rollback), then vacuum
    ptr = vwh._pointer("silver", "t")
    ptr.write_text("0")
    removed = vwh.vacuum("silver", "t", keep=1)
    assert 0 not in removed
    assert {r.x for r in vwh.read("silver", "t").collect()} == {1}


def test_missing_table_raises(spark, vwh):
    with pytest.raises(FileNotFoundError):
        vwh.read("silver", "nope")


def test_change_feed_between_versions(spark, vwh):
    """table_diff over two VersionedWarehouse snapshots is the Delta-CDF
    equivalent: inserts/updates/deletes classified, unchanged dropped."""
    from end_to_end_azure_data_engineering_spark.operators.appends import table_diff

    df0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k INT, v STRING"
    )
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d"), (5, None)], "k INT, v STRING"
    )
    vwh.commit(df0, "silver", "t")
    vwh.commit(df1, "silver", "t")
    feed = {
        r.k: (r.v, r._change)
        for r in table_diff(
            vwh.read("silver", "t", version=0), vwh.read("silver", "t"), "k"
        ).collect()
    }
    assert feed == {
        2: ("B", "update"),
        3: (None, "delete"),
        4: ("d", "insert"),
        5: (None, "insert"),  # NULL payload still inserts (null-safe compare)
    }


def test_change_feed_apply_reconstructs_new(spark, vwh):
    """Applying a change feed to the old snapshot must reconstruct the new
    snapshot exactly: new == (old minus deleted/updated keys) + feed's
    insert/update rows. Closes the CDC loop (produce -> apply round-trip)
    on a real table slice."""
    from pyspark.sql import functions as F

    from end_to_end_azure_data_engineering_spark.operators.appends import table_diff
    from end_to_end_azure_data_engineering_spark.queries import load

    o = load(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 3 != 0)
    new = o.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    feed = table_diff(old, new, "o_orderkey")

    touched = feed.select("o_orderkey")
    upserts = feed.filter(F.col("_change") != "delete").drop("_change")
    rebuilt = old.join(touched, "o_orderkey", "left_anti").unionByName(upserts)

    assert rebuilt.count() == new.count()
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0


def test_concurrent_commits_serialize_via_occ(spark, tmp_path):
    """Eight writers committing at once must each win a DISTINCT version
    (the mkdir claim is the OCC lock), every version must be readable, and
    the published pointer must name one of them."""
    from concurrent.futures import ThreadPoolExecutor

    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    vw = VersionedWarehouse(spark, str(tmp_path / "occ_wh"))

    def committer(i: int) -> int:
        df = spark.range(10).selectExpr("id", f"{i} AS writer")
        return vw.commit(df, "gold", "occ_t")

    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = list(pool.map(committer, range(8)))

    assert sorted(versions) == list(range(8))  # all distinct, no gaps
    cur = vw.current_version("gold", "occ_t")
    assert cur in versions
    for v in versions:
        assert vw.read("gold", "occ_t", version=v).count() == 10


def test_crashed_claim_is_skipped_and_vacuumed(spark, tmp_path):
    """An empty _vN left by a dead writer is never reused or published;
    vacuum sweeps it."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    vw = VersionedWarehouse(spark, str(tmp_path / "crash_wh"))
    v0 = vw.commit(spark.range(5), "gold", "t")
    assert v0 == 0
    # simulate a writer that claimed _v1 then died LONG AGO (a young
    # unstamped claim could be a slow writer mid-flight and is spared)
    phantom = vw.path("gold", "t") / "_v1"
    phantom.mkdir()
    old = time.time() - vw.PHANTOM_SWEEP_AFTER - 5
    os.utime(phantom, (old, old))
    v2 = vw.commit(spark.range(6), "gold", "t")
    assert v2 == 2  # the dead claim's number is burned, not reused
    assert vw.current_version("gold", "t") == 2
    removed = vw.vacuum("gold", "t", keep=1)
    assert 1 in removed


def test_pointer_never_published_backwards(spark, tmp_path):
    """A slow writer holding a LOWER claimed version must not un-publish a
    faster writer's higher pointer (review finding): _publish is a no-op
    when the current pointer is already newer, and the lower version stays
    readable via time travel."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    vw = VersionedWarehouse(spark, str(tmp_path / "mono_wh"))
    vw.commit(spark.range(3), "gold", "t")   # v0
    vw.commit(spark.range(4), "gold", "t")   # v1, pointer=1
    assert vw.current_version("gold", "t") == 1
    # a straggler trying to publish the older version changes nothing
    vw._publish("gold", "t", 0)
    assert vw.current_version("gold", "t") == 1
    assert vw.read("gold", "t", version=0).count() == 3  # still time-travelable


def test_restore_publishes_old_snapshot_as_new_version(spark, vwh):
    """Delta RESTORE parity: restoring v0 after a bad v1 publishes a NEW
    version with v0's content; history (including the bad load) remains
    time-travelable, and the restore itself can be rolled forward again."""
    vwh.commit(spark.range(10), "gold", "r")            # v0 — good load
    vwh.commit(spark.range(3), "gold", "r")             # v1 — bad load
    v2 = vwh.restore("gold", "r", 0)
    assert v2 == 2
    assert vwh.current_version("gold", "r") == 2
    assert vwh.read("gold", "r").count() == 10          # content == v0
    assert vwh.read("gold", "r", version=1).count() == 3  # history intact
    # roll forward: restore the bad version back — still a new commit
    v3 = vwh.restore("gold", "r", 1)
    assert v3 == 3 and vwh.read("gold", "r").count() == 3


def test_restore_missing_version_raises(spark, vwh):
    import pytest as _pytest

    vwh.commit(spark.range(2), "gold", "r2")
    with _pytest.raises(FileNotFoundError):
        vwh.restore("gold", "r2", 7)


def test_restore_survives_vacuum_of_source_version(spark, vwh, count_vacuum):
    """Hard-linked restore files stay valid when the SOURCE version
    directory is vacuumed away (link count semantics, not path sharing)."""
    vwh.commit(spark.range(8), "gold", "r3")   # v0
    vwh.commit(spark.range(1), "gold", "r3")   # v1
    vwh.restore("gold", "r3", 0)               # v2 links v0's files
    removed = vwh.vacuum("gold", "r3", keep=1)
    assert 0 in removed
    assert vwh.read("gold", "r3").count() == 8


def test_history_describes_versions_with_ops(spark, vwh, count_vacuum):
    """DESCRIBE HISTORY parity: newest-first entries carry operation
    labels, file stats, and the current-pointer marker; a restore stamps
    its own label without rewriting the source version's entry."""
    vwh.commit(spark.range(10), "gold", "h")                   # v0
    vwh.commit(spark.range(3), "gold", "h", op="MERGE")        # v1
    vwh.restore("gold", "h", 0)                                # v2
    hist = vwh.history("gold", "h")
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[0]["operation"] == "RESTORE v0"
    assert hist[1]["operation"] == "MERGE"
    assert hist[2]["operation"] == "WRITE"     # restore must not clobber v0
    assert [h["is_current"] for h in hist] == [True, False, False]
    assert all(h["n_files"] > 0 and h["bytes"] > 0 for h in hist)
    # vacuumed versions drop out of history, like Delta after file removal
    vwh.vacuum("gold", "h", keep=1)
    assert [h["version"] for h in vwh.history("gold", "h")] == [2]


def test_phantom_claims_excluded_from_history_and_restore(spark, vwh):
    """A crashed writer's claimed-but-empty version directory is not a
    history entry and cannot be restored to current."""
    import pytest as _pytest

    vwh.commit(spark.range(4), "gold", "ph")      # v0
    (vwh.path("gold", "ph") / "_v1").mkdir()      # crashed claim, no data
    vwh.commit(spark.range(5), "gold", "ph")      # v2
    assert [h["version"] for h in vwh.history("gold", "ph")] == [2, 0]
    with _pytest.raises(FileNotFoundError):
        vwh.restore("gold", "ph", 1)


def test_compact_on_versioned_warehouse_reports_real_count(spark, vwh):
    """compact() through the MVCC engine publishes a new version and
    reports the actual file count of the published snapshot (the review
    finding: counting the table ROOT of a versioned table returned 0)."""
    vwh.commit(spark.range(1000).repartition(8), "gold", "cpt")
    n = vwh.compact("gold", "cpt", target_files=2)
    assert n == 2
    assert vwh.read("gold", "cpt").count() == 1000
    assert vwh.history("gold", "cpt")[0]["operation"] == "OVERWRITE"


def test_autovacuum_prunes_after_each_publish(spark, tmp_path, count_vacuum):
    """autovacuum_keep=N keeps history bounded inline (Delta retention
    parity) — append-heavy tables like the audit log stay at N versions
    instead of one per inserted row."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    vw = VersionedWarehouse(spark, str(tmp_path / "av"), autovacuum_keep=2)
    for i in range(5):
        vw.append(spark.range(i, i + 1), "audit", "log")
    assert len(vw.versions("audit", "log")) == 2
    # all five rows survive: each append linked the prior snapshot forward
    assert vw.read("audit", "log").count() == 5
    assert vw.history("audit", "log")[0]["is_current"]


def test_failed_insert_leaves_no_restorable_phantom(spark, vwh):
    """A claim half-filled by link-forward whose data write then FAILS
    (ENOSPC etc.) must not surface in history or be restorable — the stamp
    is written only after a successful write, and validity requires it."""
    import pytest as _pytest

    vwh.commit(spark.range(6), "gold", "fi")           # v0
    with _pytest.raises(RuntimeError):
        vwh.insert_file(
            "gold", "fi", "x.parquet",
            lambda tmp: (_ for _ in ()).throw(RuntimeError("disk full")),
        )
    # the failed claim linked v0's files into _v1 but is not a commit
    assert [h["version"] for h in vwh.history("gold", "fi")] == [0]
    with _pytest.raises(FileNotFoundError):
        vwh.restore("gold", "fi", 1)
    assert vwh.read("gold", "fi").count() == 6


def test_vacuum_spares_a_version_a_reader_resolved(spark, tmp_path):
    """Audit retention (8 versions) must not delete the version a
    concurrent reader listed: parallel ingestion stages insert audit rows
    while another stage's watermark fetch reads the table. A superseded
    version survives vacuum for SUPERSEDED_SWEEP_AFTER, as Delta keeps
    removed files for its retention duration."""
    import datetime as dt

    from end_to_end_azure_data_engineering_spark.plans.audit import AuditLog

    audit = AuditLog(VersionedWarehouse(spark, str(tmp_path / "wh")))
    t0 = dt.datetime(2024, 3, 1)
    audit.success("bank_a", "customers", t0, 1, "w0")
    r = audit.read()
    for i in range(9):
        audit.success("bank_a", "accounts", t0, i, f"w{i}")
    assert r.count() == 1
    assert audit.read().count() == 10


def test_per_table_retention_spares_other_tables(spark, tmp_path, count_vacuum):
    """set_retention scopes pruning to ONE table: bounding the audit log
    leaves gold time travel intact."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    vw = VersionedWarehouse(spark, str(tmp_path / "ret"))
    vw.set_retention("audit", "log", 2)
    for i in range(4):
        vw.append(spark.range(1), "audit", "log")
        vw.commit(spark.range(i + 1), "gold", "fact")
    assert len(vw.versions("audit", "log")) == 2
    assert len(vw.versions("gold", "fact")) == 4          # full history kept
    assert vw.read("gold", "fact", version=0).count() == 1  # time travel OK
    assert vw.read("audit", "log").count() == 4             # no rows lost


def test_phantom_claim_does_not_consume_keep_slot(spark, vwh, count_vacuum):
    """r4 advice: vacuum's keep-window is computed over COMMITTED versions
    only — a crashed claim (highest number) must not silently cost one
    real committed version its time-travel slot."""
    for i in range(3):
        vwh.commit(_df(spark, i), "gold", "t")          # v0 v1 v2
    (vwh.path("gold", "t") / "_v3").mkdir()             # young phantom claim
    removed = vwh.vacuum("gold", "t", keep=2)
    # keep=2 over committed {0,1,2} keeps v1+v2; v0 removed. The phantom
    # neither occupies a keep slot nor is swept while young (could be a
    # slow writer mid-flight).
    assert removed == [0]
    assert vwh.versions("gold", "t") == [1, 2, 3]
    assert vwh.read("gold", "t", version=1).count() == 1


def test_young_phantom_spared_old_phantom_swept(spark, vwh, count_vacuum):
    vwh.commit(_df(spark, 1), "gold", "t")
    young = vwh.path("gold", "t") / "_v1"
    young.mkdir()
    vwh.commit(_df(spark, 2), "gold", "t")              # v2
    old = vwh.path("gold", "t") / "_v3"
    old.mkdir()
    ts = time.time() - vwh.PHANTOM_SWEEP_AFTER - 5
    os.utime(old, (ts, ts))
    vwh.commit(_df(spark, 3), "gold", "t")              # v4
    removed = vwh.vacuum("gold", "t", keep=2)
    assert 3 in removed and 1 not in removed
    assert vwh.versions("gold", "t") == [1, 2, 4]


def test_retention_none_is_persisted_operator_choice(spark, tmp_path):
    """r4 advice: set_retention(..., None) = explicit keep-full-history.
    It must survive a later default-applying init (AuditLog applies 8 only
    when NO marker exists) and override the warehouse-wide autovacuum."""
    vw = VersionedWarehouse(spark, str(tmp_path / "rn"), autovacuum_keep=2)
    vw.set_retention("audit", "log", None)
    assert (vw.path("audit", "log") / ".retention").exists()
    for _ in range(4):
        vw.append(spark.range(1), "audit", "log")
    # full history despite autovacuum_keep=2: the explicit 'none' wins
    assert len(vw.versions("audit", "log")) == 4
    assert vw._retention("audit", "log") is None
    # clear_retention reverts to the warehouse default
    vw.clear_retention("audit", "log")
    assert vw._retention("audit", "log") == 2


def test_corrupt_retention_marker_raises(spark, vwh):
    """r4 advice: a damaged .retention marker must not silently substitute
    a different policy (which could vacuum history the operator kept)."""
    vwh.commit(_df(spark, 1), "gold", "t")
    (vwh.path("gold", "t") / ".retention").write_text("garbage")
    with pytest.raises(RuntimeError, match="retention marker is corrupt"):
        vwh.append(_df(spark, 2), "gold", "t")


def test_append_lock_heartbeat_keeps_lock_fresh(spark, tmp_path, monkeypatch):
    """r4 advice (medium): the append-lock holder heartbeats the lock so a
    legitimate long write is never stolen mid-write; only a CRASHED
    holder's lock ages past the steal horizon. (rename-mode internals —
    pinned; flock mode has no heartbeat.)"""
    monkeypatch.setenv("SPARK_GRAFT_LOCK_MODE", "rename")
    vw = VersionedWarehouse(spark, str(tmp_path / "hb"))
    monkeypatch.setattr(VersionedWarehouse, "LOCK_HEARTBEAT", 0.05)
    lock = vw.path("gold", "t")
    with vw._append_lock("gold", "t"):
        lf = lock / ".append.lock"
        # age the lock past a (shrunk) steal horizon, then wait for the
        # heartbeat to refresh it
        ts = time.time() - 100
        os.utime(lf, (ts, ts))
        deadline = time.time() + 2
        while time.time() < deadline and time.time() - lf.stat().st_mtime > 5:
            time.sleep(0.02)
        assert time.time() - lf.stat().st_mtime <= 5, "heartbeat never fired"
    assert not (lock / ".append.lock").exists()


def test_claim_keepalive_protects_inflight_write_from_sweep(spark, tmp_path):
    """r5 advice (medium): vacuum's phantom sweep must never rmtree a LIVE
    writer's claimed-but-unstamped version directory, even when the write
    runs past PHANTOM_SWEEP_AFTER. The writer's _claim_keepalive thread
    refreshes the claim's mtime, so only a dead writer's claim ages into
    the sweepable window."""
    vw = VersionedWarehouse(spark, str(tmp_path / "ka_wh"))
    vw.commit(spark.range(3), "gold", "t")
    vw.commit(spark.range(4), "gold", "t")
    vw.LOCK_HEARTBEAT = 0.05  # instance override: beat fast for the test
    nxt, vdir = vw._claim_next("gold", "t")
    aged = time.time() - vw.PHANTOM_SWEEP_AFTER - 5
    with vw._claim_keepalive(vdir):
        # simulate the claim having aged mid-write (a long Spark stage
        # between file materializations), then let the heartbeat refresh it
        os.utime(vdir, (aged, aged))
        deadline = time.time() + 2
        while time.time() < deadline and time.time() - vdir.stat().st_mtime > 5:
            time.sleep(0.02)
        removed = vw.vacuum("gold", "t", keep=1)
        assert nxt not in removed
        assert vdir.exists()
    # control: keepalive stopped (writer dead) — the aged claim is swept
    os.utime(vdir, (aged, aged))
    removed = vw.vacuum("gold", "t", keep=1)
    assert nxt in removed
    assert not vdir.exists()


def test_compact_partition_rewrites_only_target(spark, tmp_path):
    """OPTIMIZE-WHERE parity: compacting one partition must (a) shrink that
    partition's file count, (b) hard-link every other partition's files
    (same inodes — zero bytes copied), (c) preserve content exactly,
    (d) commit a new version with an OPTIMIZE history entry, and (e) leave
    the prior snapshot readable via time travel."""
    vw = VersionedWarehouse(spark, str(tmp_path / "opt_wh"))
    df = spark.range(2000).selectExpr("id", "id % 4 AS bucket")
    vw.commit(df, "silver", "t", partition_by=["bucket"])
    # fragment bucket=1 with three appends
    for i in range(3):
        vw.append(
            spark.range(2000 + i * 10, 2010 + i * 10).selectExpr(
                "id", "CAST(1 AS BIGINT) AS bucket"
            ),
            "silver",
            "t",
            partition_by=["bucket"],
        )
    v_before = vw.current_version("silver", "t")
    src = vw.path("silver", "t") / f"_v{v_before}"
    frag = len(list((src / "bucket=1").glob("*.parquet")))
    assert frag >= 4
    other_inodes = {
        p.name: p.stat().st_ino for p in (src / "bucket=2").glob("*.parquet")
    }
    before = {(r.id, r.bucket) for r in vw.read("silver", "t").collect()}

    v_new = vw.compact_partition("silver", "t", "bucket=1", target_files=1)
    assert v_new == v_before + 1
    ndir = vw.path("silver", "t") / f"_v{v_new}"
    assert len(list((ndir / "bucket=1").glob("*.parquet"))) == 1
    linked = {
        p.name: p.stat().st_ino for p in (ndir / "bucket=2").glob("*.parquet")
    }
    assert linked == other_inodes  # hard links, not copies
    after = {(r.id, r.bucket) for r in vw.read("silver", "t").collect()}
    assert after == before
    hist = vw.history("silver", "t")
    assert hist[0]["operation"] == "OPTIMIZE bucket=1"
    old = {(r.id, r.bucket) for r in vw.read("silver", "t", version=v_before).collect()}
    assert old == before


def test_compaction_serializes_with_appends(spark, tmp_path):
    """r6 advice (medium): compact/compact_partition must hold the append
    lock — otherwise an append publishing between the compaction's snapshot
    read and its publish is silently absent from the compacted version
    (lost update). Proven by holding the lock and observing both compaction
    entry points block until release, then complete with nothing lost."""
    import threading

    vw = VersionedWarehouse(spark, str(tmp_path / "cs_wh"))
    vw.commit(
        spark.range(100).selectExpr("id", "id % 2 AS bucket"),
        "silver", "t", partition_by=["bucket"],
    )
    vw.append(
        spark.range(100, 110).selectExpr("id", "CAST(1 AS BIGINT) AS bucket"),
        "silver", "t", partition_by=["bucket"],
    )
    for method, args in [
        ("compact_partition", ("silver", "t", "bucket=1")),
        ("compact", ("silver", "t", 1)),
    ]:
        v0 = vw.current_version("silver", "t")
        done = threading.Event()
        with vw._append_lock("silver", "t"):
            th = threading.Thread(
                target=lambda m=method, a=args: (getattr(vw, m)(*a), done.set()),
                daemon=True,
            )
            th.start()
            assert not done.wait(1.5), f"{method} ran without the append lock"
            assert vw.current_version("silver", "t") == v0
        assert done.wait(60), f"{method} never completed after lock release"
        th.join(10)
        assert vw.current_version("silver", "t") == v0 + 1
    assert vw.read("silver", "t").count() == 110


def test_compact_partition_missing_partition_raises(spark, tmp_path):
    vw = VersionedWarehouse(spark, str(tmp_path / "opt_wh2"))
    vw.commit(
        spark.range(10).selectExpr("id", "id % 2 AS bucket"),
        "silver", "t", partition_by=["bucket"],
    )
    with pytest.raises(FileNotFoundError, match="no partition"):
        vw.compact_partition("silver", "t", "bucket=9")


def test_read_schema_equals_inference_on_every_write_path(spark, tmp_path):
    """``read`` uses the schema recorded in a version directory instead of
    inferring it from parquet footers. On every write path the schema it
    returns must be the one Spark infers from the same directory, and the
    record must be present exactly where the rules put one: commit,
    overwrite, first and same-schema appends, inserts, restore and compact
    keep or write it; a different-schema append, a partitioned write and
    an insert into an unrecorded table leave the version to inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from end_to_end_azure_data_engineering_spark.plans.audit import AuditLog

    vw = VersionedWarehouse(spark, str(tmp_path / "wh"))

    def check(table, recorded, version=None, ns="gold"):
        v = vw.current_version(ns, table) if version is None else version
        vdir = vw.path(ns, table) / f"_v{v}"
        assert (vdir / ".schema").exists() == recorded, (table, v)
        assert vw.read(ns, table, version=v).schema == spark.read.parquet(str(vdir)).schema
        return v

    def wide(lo, hi):
        # non-nullable, nested, decimal and both timestamp kinds: the cases
        # where a frame's own schema differs from what a read reports
        return spark.range(lo, hi).selectExpr(
            "id", "CAST(id AS INT) AS i", "CAST(id AS DECIMAL(12, 2)) AS d",
            "CAST(id AS DOUBLE) AS dbl", "CAST(id AS STRING) AS s",
            "id % 2 = 0 AS flag", "DATE'2024-01-01' AS day",
            "TIMESTAMP'2024-01-01 10:00:00' AS ts",
            "TIMESTAMP_NTZ'2024-01-01 10:00:00' AS ntz",
            "CAST(CAST(id AS STRING) AS BINARY) AS bin", "array(id, id) AS arr",
            "map('k', id) AS m",
            "named_struct('a', id, 'b', array(named_struct('c', CAST(id AS STRING)))) AS st",
        )

    v0 = vw.commit(wide(0, 10), "gold", "w")
    check("w", True)
    vw.overwrite(wide(10, 20), "gold", "w")
    check("w", True)
    vw.append(wide(20, 25), "gold", "w")
    same = check("w", True)
    vw.append(wide(25, 30).withColumn("extra", F.lit(1)), "gold", "w")
    evolved = check("w", False)
    # dropping the linked-forward record leaves the source version's own
    check("w", True, version=same)
    assert vw.read("gold", "w", merge_schema=True).schema == (
        spark.read.option("mergeSchema", "true")
        .parquet(str(vw.path("gold", "w") / f"_v{evolved}")).schema
    )
    vw.restore("gold", "w", v0)
    check("w", True)
    vw.restore("gold", "w", evolved)
    check("w", False)
    vw.compact("gold", "w", target_files=2)
    check("w", True)
    assert vw.read("gold", "w").count() == 20
    assert vw.read("gold", "w", merge_schema=True).schema == (
        spark.read.option("mergeSchema", "true").parquet(str(vw.data_dir("gold", "w"))).schema
    )

    vw.append(wide(0, 5), "gold", "first")
    check("first", True)
    vw.commit(wide(0, 10), "gold", "p", partition_by=["flag"])
    check("p", False)
    vw.append(wide(10, 20), "gold", "p", partition_by=["flag"])
    check("p", False)

    # the audit table: a Spark-written empty version, then Arrow-written
    # rows inserted as files next to it
    audit = AuditLog(vw)
    check("audit_logs", True, ns="audit")
    t0 = audit.start("bank_a", "customers")
    audit.success("bank_a", "customers", t0, 3, "2024-01-02")
    check("audit_logs", True, ns="audit")
    assert audit.fetch_last_watermark("bank_a", "customers") == "2024-01-02"
    arrow = pa.table({"x": [1, 2]})
    vw.insert_file("gold", "arrow_only", "part-a.parquet", lambda tmp: pq.write_table(arrow, tmp))
    check("arrow_only", False)
