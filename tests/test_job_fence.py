"""Job fence for a medallion change batch: two exact, repeatable counts on
its critical path.

1. The executed plan of one ``scd2_merge`` holds exactly one join — the
   full-outer key join both MERGE passes share. A branch that re-derives
   the join (Catalyst plans each reference to a shared subtree as its own
   copy) or a separate insert anti-join shows up here as a second join.
2. ``VersionedWarehouse.read`` of a version with a recorded schema submits
   no Spark job. Without the record, Spark infers the schema from the
   parquet footers with a job of its own, once per read.

Jobs are counted through the status tracker under a job group set for the
call alone.
"""

from __future__ import annotations

import datetime as dt
import re
import uuid

from end_to_end_azure_data_engineering_spark.engine.tableio import VersionedWarehouse
from end_to_end_azure_data_engineering_spark.operators.scd2 import scd2_init, scd2_merge

_JOIN_RE = re.compile(r"\b(\w+Join|CartesianProduct)\b")


def _jobs_submitted(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"fence-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_scd2_merge_executes_one_join(spark, tmp_path):
    vw = VersionedWarehouse(spark, str(tmp_path / "wh"))
    t0, t1, t2 = (dt.datetime(2024, 1, d) for d in (1, 2, 3))
    schema = "k INT, v STRING"
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    vw.commit(scd2_init(base, t0), "silver", "t")
    changes = spark.createDataFrame([(1, "x"), (4, "d")], schema)
    vw.commit(scd2_merge(vw.read("silver", "t"), changes, "k", ["v"], t1), "silver", "t")

    # the target now holds history, current and untouched rows
    batch = spark.createDataFrame([(1, "y"), (2, "b"), (3, "z"), (5, "e")], schema)
    merged = scd2_merge(vw.read("silver", "t"), batch, "k", ["v"], t2)
    assert len(merged.collect()) == 8
    plan = merged._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(_JOIN_RE.findall(final)) == 1, final


def test_recorded_version_read_submits_no_job(spark, tmp_path):
    vw = VersionedWarehouse(spark, str(tmp_path / "wh"))
    v = vw.commit(spark.range(5).withColumnRenamed("id", "x"), "silver", "t")

    assert _jobs_submitted(spark, lambda: vw.read("silver", "t")) == 0
    assert _jobs_submitted(spark, lambda: vw.read("silver", "t", version=v)) == 0
    # the control: the same directory read by inference runs a job, so the
    # zero above is the record at work, not a blind counter
    vdir = str(vw.path("silver", "t") / f"_v{v}")
    assert _jobs_submitted(spark, lambda: spark.read.parquet(vdir)) >= 1
