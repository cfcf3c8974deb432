"""Config-driven ingestion tests (pl_ingestion_bronze parity): Lookup,
active-row filter, Switch dispatch per source_type, incremental watermark
path, audited unknown-type failure, CONFIG_NOT_FOUND."""

import datetime as dt
import logging

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.engine.clock import FixedClock
from end_to_end_azure_data_engineering_spark.engine.tableio import (
    VersionedWarehouse, Warehouse,
)
from end_to_end_azure_data_engineering_spark.plans.audit import AuditLog
from end_to_end_azure_data_engineering_spark.plans.ingestion import (
    SourceRow, load_config, run_ingestion,
)

CONFIG_CSV = """source_type,db_name,schema_name,table_name,source_container,source_path,target_container,target_path,target_file_name,is_active,load_mode,watermark_column
sql,bank_a,dbo,accounts,,,bronze,sql,bank_a_accounts,1,full,
sql,bank_a,dbo,customers,,,bronze,sql,bank_a_customers,1,incremental,updated_at
landing,,,settlements,,flat_files/settlements.csv,bronze,landing,bank_a_settlements,1,snapshot,
sql,bank_a,dbo,old_table,,,bronze,sql,bank_a_old,0,full,
"""


def test_load_config_missing_raises(tmp_path):
    with pytest.raises(FileNotFoundError, match="CONFIG_NOT_FOUND"):
        load_config(str(tmp_path / "nope.csv"))


@pytest.fixture()
def setup(spark, tmp_path):
    cfg = tmp_path / "load_config.csv"
    cfg.write_text(CONFIG_CSV)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    audit = AuditLog(wh, FixedClock(dt.datetime(2024, 3, 1)))

    accounts = spark.createDataFrame([(1, "ACC1"), (2, "ACC2")], "id long, name string")
    customers = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 2))],
        "id long, updated_at timestamp",
    )
    settlements = spark.createDataFrame([(9, 12.5)], "id long, amount double")

    def sql_resolver(row, last_wm):
        df = {"accounts": accounts, "customers": customers}[row.table_name]
        if last_wm and row.watermark_column:
            df = df.filter(F.col(row.watermark_column) > last_wm)
        return df

    resolvers = {"sql": sql_resolver, "landing": lambda row, wm: settlements}
    return cfg, wh, audit, resolvers


def test_switch_dispatch_and_audit(spark, setup):
    cfg, wh, audit, resolvers = setup
    results = run_ingestion(audit, load_config(str(cfg)), resolvers)

    assert set(results) == {"bank_a_accounts", "bank_a_customers", "bank_a_settlements"}
    assert "bank_a_old" not in results  # is_active=0 skipped
    assert wh.read("bronze", "bank_a_accounts").count() == 2
    assert wh.read("bronze", str(results["bank_a_customers"])).count() == 2
    logs = audit.read()
    assert logs.filter(F.col("status") == "SUCCESS").count() == 3
    assert logs.filter(F.col("status") == "FAILED").count() == 0
    # incremental row recorded its max watermark
    wm = audit.fetch_last_watermark("bank_a", "bank_a_customers")
    assert wm.startswith("2024-01-02")


def test_unknown_source_type_fails_audited(spark, setup):
    cfg, wh, audit, resolvers = setup
    bad = [SourceRow("ftp", "x", "", "t", "", "bad_tgt", True, "full", "")]
    with pytest.raises(RuntimeError, match="bad_tgt"):
        run_ingestion(audit, bad, resolvers)
    failed = audit.read().filter(F.col("status") == "FAILED").collect()
    assert any("unknown source_type 'ftp'" in (r.error_message or "") for r in failed)


def test_audit_arrow_failure_falls_back_visibly(spark, tmp_path, monkeypatch, caplog):
    """The Spark-write fallback of an audit insert still lands the row,
    and says so in the log with the Arrow path's exception attached."""

    def broken(self, row):
        raise OSError("arrow writer unavailable")

    audit = AuditLog(VersionedWarehouse(spark, str(tmp_path / "wh")))
    monkeypatch.setattr(AuditLog, "_insert_arrow", broken)
    with caplog.at_level(logging.WARNING, logger=AuditLog.__module__):
        audit.start("bank_a", "customers")

    rows = audit.read().collect()
    assert [(r.source_object, r.status) for r in rows] == [("customers", "STARTED")]
    [rec] = [r for r in caplog.records if "fell back to a Spark write" in r.getMessage()]
    assert rec.levelno == logging.WARNING
    assert "bank_a.customers" in rec.getMessage()
    assert isinstance(rec.exc_info[1], OSError)
