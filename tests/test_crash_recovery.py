"""SIGKILL fault injection for the versioned warehouse (r8).

The cross-process lock tests prove mutual exclusion and crashed-HOLDER
steal in isolation; this test kills whole writer processes at random
points inside real commit loops and asserts the durability contract the
MVCC design claims (engine/tableio.py::VersionedWarehouse docstring):

1. every ACKNOWLEDGED insert (the writer printed its ack only after
   ``insert_file`` returned, i.e. after publish) is present in the
   published snapshot that survives the crash — acknowledged commits are
   durable across SIGKILL at any instant;
2. the published pointer always resolves to a COMMITTED version — a
   reader after any crash sees a complete snapshot, never a torn one;
3. crashed claims (unstamped ``_vN`` directories, possibly half-filled
   by ``_link_forward`` or holding a partial ``.tmp``) are invisible to
   ``history`` and swept by ``vacuum`` once past the phantom horizon;
4. a successor writer recovers unaided: it steals the dead writer's
   append lock (and, if the kill landed inside ``_publish``'s
   microsecond window, its pointer lock — the PTR_STEAL_AFTER horizon)
   and commits normally.

No SparkSession: ``insert_file`` is the driver-side commit path
(claim → link-forward → write → stamp → publish), pure filesystem, so
children are cheap interpreters and the kill points land in real code.
"""

from __future__ import annotations

import random
import signal
import subprocess
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])

_WRITER = """
import sys
from pathlib import Path
sys.path.insert(0, sys.argv[1])
from end_to_end_azure_data_engineering_spark.engine.tableio import VersionedWarehouse

VersionedWarehouse.LOCK_STEAL_AFTER = 2.0
VersionedWarehouse.LOCK_HEARTBEAT = 0.5
VersionedWarehouse.PTR_STEAL_AFTER = 1.0
VersionedWarehouse.SUPERSEDED_SWEEP_AFTER = 0.0

root, tag, n = sys.argv[2], sys.argv[3], int(sys.argv[4])
wh = VersionedWarehouse(None, root, autovacuum_keep=3)
for i in range(n):
    payload = (tag + ":" + str(i) + "|") * 40
    name = "f_" + tag + "_" + str(i) + ".txt"
    wh.insert_file(
        "silver", "t", name,
        lambda p, payload=payload: Path(p).write_text(payload),
    )
    print("ACK", tag, i, flush=True)
"""


def _spawn(root: Path, tag: str, n: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _WRITER, REPO, str(root), tag, str(n)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _acks(out: str) -> list[tuple[str, int]]:
    got = []
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] == "ACK":
            got.append((parts[1], int(parts[2])))
    return got


def test_sigkill_mid_commit_preserves_acknowledged_inserts(tmp_path):
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    root = tmp_path / "crash_wh"
    rng = random.Random(8)
    acked: list[tuple[str, int]] = []

    # four writers, each murdered mid-loop at a random moment
    for k in range(4):
        p = _spawn(root, f"w{k}", 500)
        # let it get going (first child also pays interpreter startup)
        time.sleep(rng.uniform(0.6, 1.4) + (1.0 if k == 0 else 0.0))
        p.send_signal(signal.SIGKILL)
        out, _ = p.communicate(timeout=60)
        acked.extend(_acks(out))

    # a recovery writer runs to completion, stealing any stale locks
    p = _spawn(root, "rec", 5)
    out, err = p.communicate(timeout=120)
    assert p.returncode == 0, err[-2000:]
    acked.extend(_acks(out))
    assert acked, "no insert ever acknowledged — kill timing too early"

    wh = VersionedWarehouse(None, str(root))
    cur = wh.current_version("silver", "t")
    assert cur is not None
    assert wh._is_committed("silver", "t", cur)

    # 1: every acknowledged insert is in the surviving published snapshot
    vdir = root / "silver" / "t" / f"_v{cur}"
    missing = [
        (tag, i)
        for tag, i in acked
        if not (vdir / f"f_{tag}_{i}.txt").exists()
    ]
    assert not missing, f"acknowledged inserts lost after SIGKILL: {missing[:10]}"
    # and its content is complete (no torn payload published)
    for tag, i in acked[-3:]:
        text = (vdir / f"f_{tag}_{i}.txt").read_text()
        assert text == (f"{tag}:{i}|") * 40

    # 2/3: history shows only committed versions; crashed claims excluded
    hist = wh.history("silver", "t")
    hist_versions = {h["version"] for h in hist}
    for v in hist_versions:
        assert wh._is_committed("silver", "t", v)
    uncommitted = [
        v
        for v in wh.versions("silver", "t")
        if not wh._is_committed("silver", "t", v)
    ]
    assert not (set(uncommitted) & hist_versions)

    # 3: phantoms sweep once past the horizon (committed history intact)
    orig = VersionedWarehouse.PHANTOM_SWEEP_AFTER
    VersionedWarehouse.PHANTOM_SWEEP_AFTER = 0.0
    try:
        wh.vacuum("silver", "t", keep=10_000)
        left = wh.versions("silver", "t")
        assert cur in left
        assert all(wh._is_committed("silver", "t", v) for v in left), left
    finally:
        VersionedWarehouse.PHANTOM_SWEEP_AFTER = orig


def test_sigkill_while_holding_pointer_lock_recovers(tmp_path, monkeypatch):
    """A writer killed while HOLDING .ptr.lock must not wedge successors:
    the next publisher waits out PTR_STEAL_AFTER, steals, and publishes
    (the r8 fix — with the old fixed 10 s deadline under a 60 s horizon
    this raised TimeoutError instead). (rename-mode internals — pinned;
    in flock mode the kernel releases a killed holder's lock itself,
    covered by test_cross_process_locks.)"""
    monkeypatch.setenv("SPARK_GRAFT_LOCK_MODE", "rename")
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    root = tmp_path / "ptr_wh"
    orig = VersionedWarehouse.PTR_STEAL_AFTER
    VersionedWarehouse.PTR_STEAL_AFTER = 1.0
    try:
        wh = VersionedWarehouse(None, str(root))
        wh.insert_file(
            "silver", "t", "seed.txt", lambda p: Path(p).write_text("x")
        )
        # simulate the crashed publisher: a stale ptr.lock nobody releases
        lock = root / "silver" / "t" / ".ptr.lock"
        lock.write_text("")
        t0 = time.monotonic()
        wh.insert_file(
            "silver", "t", "after.txt", lambda p: Path(p).write_text("y")
        )
        elapsed = time.monotonic() - t0
        assert elapsed < 30, f"publish took {elapsed:.1f}s — steal failed"
        cur = wh.current_version("silver", "t")
        vdir = root / "silver" / "t" / f"_v{cur}"
        assert (vdir / "after.txt").exists()
    finally:
        VersionedWarehouse.PTR_STEAL_AFTER = orig


def test_concurrent_writers_no_lost_appends(tmp_path):
    """K healthy writer processes interleave insert_file commits against
    one table. The append lock serializes link-forward chains, so the
    final published snapshot must contain every writer's every file —
    a lost update would drop a file from the chain silently. (The
    counter-based cross-process test proves lock exclusion; this proves
    the COMMIT protocol composes with it: claims, link-forward, publish
    monotonicity.)"""
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        VersionedWarehouse,
    )

    root = tmp_path / "mw_wh"
    k, n = 3, 40
    procs = [_spawn(root, f"p{j}", n) for j in range(k)]
    acked = []
    for p in procs:
        out, err = p.communicate(timeout=180)
        assert p.returncode == 0, err[-2000:]
        acked.extend(_acks(out))
    assert len(acked) == k * n

    wh = VersionedWarehouse(None, str(root))
    cur = wh.current_version("silver", "t")
    vdir = root / "silver" / "t" / f"_v{cur}"
    missing = [
        (tag, i)
        for tag, i in acked
        if not (vdir / f"f_{tag}_{i}.txt").exists()
    ]
    assert not missing, f"lost appends under concurrency: {missing[:10]}"
