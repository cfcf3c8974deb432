"""The medallion workload: seeded incremental change batches on a loaded
versioned warehouse, driven through the program's public entry points.

Bronze comes from ``plans.bench_bronze.tpch_bronze_frames``. Every feed
lands through ``plans.ingestion.run_ingestion``: transactions and disputes
as watermark feeds (``sources.incremental.incremental_ingest`` reads the
watermark back from the audit log), the rest as full file drops. Silver
and gold run through ``plans.pipeline.run_silver`` / ``run_gold``.

Incremental plan (``plan_batches``, seeded): the newest orders are held
back from the initial load and delivered in consecutive date windows, one
window per batch. A batch also
- re-delivers a few customers and accounts with one compare column
  changed (SCD2 expire + insert) and a few unchanged (must be no-ops);
- re-delivers the previous window's settlements next to the new ones
  (append-if-absent must skip them).
"""

from __future__ import annotations

import datetime as dt
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.engine.clock import SystemClock
from end_to_end_azure_data_engineering_spark.engine.tableio import VersionedWarehouse
from end_to_end_azure_data_engineering_spark.plans import ingestion, pipeline
from end_to_end_azure_data_engineering_spark.plans.audit import AuditLog
from end_to_end_azure_data_engineering_spark.plans.bench_bronze import tpch_bronze_frames
from end_to_end_azure_data_engineering_spark.plans.gold import GOLD_DEPS
from end_to_end_azure_data_engineering_spark.plans.silver import SILVER_SPECS

SINGLE = ("mcc_codes", "fx_rates")
#: watermark feeds: entity -> (watermark column, its type, days from the
#: order date to the watermark column's date)
WATERMARKED = {"transactions": ("booking_ts", "timestamp", 0), "disputes": ("opened_date", "date", 5)}
#: settlement_date is the order date + 2 days (bench_bronze)
SETTLE_LAG = 2
BATCH_ENTITIES = ("customers", "accounts", "transactions", "settlements", "disputes")
SCD2_TABLES = tuple(n for n, s in SILVER_SPECS.items() if s.load == "scd2")
#: batches held back from the initial load: an untraced run measures one,
#: a traced run one untraced and one traced
N_BATCHES = 2
WINDOW_DAYS = 30
CHANGED = 8  # customers and accounts changed per batch; as many re-sent unchanged
#: recorded in every result's exec stamp while ``new_warehouse`` overrides
#: the audit table's retention (see there)
KNOWN_DEFECT = "audit retention overridden (vacuum/watermark race)"


@dataclass(frozen=True)
class Batch:
    index: int
    lower: dt.date  # orders dated after lower ...
    upper: dt.date  # ... up to upper land in this batch
    replay_from: dt.date  # settlements dated after this (+lag) are re-sent
    changed_customers: tuple[int, ...]
    unchanged_customers: tuple[int, ...]
    changed_accounts: tuple[int, ...]
    unchanged_accounts: tuple[int, ...]


@dataclass(frozen=True)
class Plan:
    cutoff: dt.date
    batches: tuple[Batch, ...]


def plan_batches(seed: int, custkeys: list[int], last_day: dt.date,
                 n_batches: int = N_BATCHES) -> Plan:
    """The seeded change batches. Pure: the same seed and key universe
    give the same plan. Every window spans ``WINDOW_DAYS``, so batches of
    all seeds carry about the same work; the seed shifts the windows back
    from ``last_day`` by up to 60 days and picks the keys. Changed and
    unchanged keys never repeat across batches, so every key a batch
    touches still holds its initial-load state."""
    rng = random.Random(seed)
    end = last_day - dt.timedelta(days=rng.randint(0, 60))
    spans = [WINDOW_DAYS] * n_batches
    cutoff = end - dt.timedelta(days=sum(spans))
    keys = sorted(custkeys)
    accounts = [2 * k + slot for k in keys for slot in (0, 1)]
    cust = rng.sample(keys, 2 * CHANGED * n_batches)
    acct = rng.sample(accounts, 2 * CHANGED * n_batches)
    batches = []
    lower, prev_lower = cutoff, cutoff - dt.timedelta(days=spans[0])
    for i, span in enumerate(spans):
        upper = lower + dt.timedelta(days=span)
        c = cust[2 * CHANGED * i: 2 * CHANGED * (i + 1)]
        a = acct[2 * CHANGED * i: 2 * CHANGED * (i + 1)]
        batches.append(Batch(
            i, lower, upper, prev_lower,
            tuple(c[:CHANGED]), tuple(c[CHANGED:]), tuple(a[:CHANGED]), tuple(a[CHANGED:]),
        ))
        prev_lower, lower = lower, upper
    return Plan(cutoff, tuple(batches))


# ids as bench_bronze formats them
def customer_id(k: int) -> str:
    return f"CUST{k:09d}"


def account_id(n: int) -> str:
    return f"ACC{n:010d}"


def _day_end(d: dt.date) -> str:
    return f"{d.isoformat()} 23:59:59"


def _shift(d: dt.date, days: int) -> dt.date:
    return d + dt.timedelta(days=days)


def _count_if(cond):
    return F.sum(cond.cast("int"))


def footer_rows(path: Path) -> int:
    return sum(pq.read_metadata(f).num_rows for f in path.rglob("*.parquet"))


class Medallion:
    """One warehouse, its audit log and the generated bronze."""

    def __init__(self, spark, sf_dir: str, root: Path, seed: int):
        self.spark = spark
        self.root = root
        self.clock = SystemClock()
        self.bronze = tpch_bronze_frames(spark, sf_dir)
        custkeys = pq.read_table(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
        orders = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_orderdate"])
        last = max(orders.column("o_orderdate").to_pylist())
        self.plan = plan_batches(seed, custkeys.column("c_custkey").to_pylist(), last.date())
        self.wh = self.audit = None
        self.next_batch = 0
        self.watermarks: dict[str, str] = {}

    # -- building feeds ------------------------------------------------------

    @staticmethod
    def _feed(ent: str, tag: str | None, frame_fn):
        """One ingestion config row (watermark feed or full drop) and the
        function that returns its frame for a given last watermark."""
        incremental = ent in WATERMARKED
        row = ingestion.SourceRow(
            source_type="frame", db_name=tag or "reference", schema_name="dbo",
            table_name=ent, source_path="", target_file_name=f"{ent}__{tag}" if tag else ent,
            is_active=True, load_mode="incremental" if incremental else "full",
            watermark_column=WATERMARKED[ent][0] if incremental else "",
        )
        return row, frame_fn

    def _watermark_feed(self, ent: str, df, upper: dt.date):
        col, typ, lag = WATERMARKED[ent]
        hi = _day_end(_shift(upper, lag)) if typ == "timestamp" else _shift(upper, lag).isoformat()

        def read(last_wm: str):
            out = df.filter(F.col(col) <= F.lit(hi).cast(typ))
            if last_wm:
                out = out.filter(F.col(col) > F.lit(last_wm).cast(typ))
            return out

        return read

    def _settlements(self, df, after: dt.date | None, upper: dt.date):
        d = F.col("settlement_date")
        out = df.filter(d <= F.lit(_shift(upper, SETTLE_LAG).isoformat()).cast("date"))
        if after is not None:
            out = out.filter(d > F.lit(_shift(after, SETTLE_LAG).isoformat()).cast("date"))
        return lambda _wm: out

    def initial_feeds(self, cut: dt.date) -> list:
        """Every bronze feed up to orders dated ``cut``."""
        feeds = []
        for ent, pairs in self.bronze.items():
            for df, tag in pairs:
                if ent in WATERMARKED:
                    fn = self._watermark_feed(ent, df, cut)
                elif ent == "settlements":
                    fn = self._settlements(df, None, cut)
                else:
                    fn = lambda _wm, df=df: df  # noqa: E731
                feeds.append(self._feed(ent, tag, fn))
        return feeds

    @staticmethod
    def redelivered(b: Batch) -> dict[str, tuple[str, str, list[str], list[str]]]:
        """entity -> (id column, the compare column a batch changes,
        changed ids, ids re-sent unchanged)."""
        return {
            "customers": ("customer_id", "last_name", [customer_id(k) for k in b.changed_customers],
                          [customer_id(k) for k in b.unchanged_customers]),
            "accounts": ("account_id", "iban", [account_id(n) for n in b.changed_accounts],
                         [account_id(n) for n in b.unchanged_accounts]),
        }

    def batch_feeds(self, b: Batch) -> list:
        redelivered = self.redelivered(b)
        feeds = []
        for ent in BATCH_ENTITIES:
            for df, tag in self.bronze[ent]:
                if ent in WATERMARKED:
                    fn = self._watermark_feed(ent, df, b.upper)
                elif ent == "settlements":
                    fn = self._settlements(df, b.replay_from, b.upper)
                else:
                    id_col, col, changed, same = redelivered[ent]
                    out = df.filter(F.col(id_col).isin(changed + same)).withColumn(
                        col,
                        F.when(F.col(id_col).isin(changed), F.concat(F.col(col), F.lit(f"~b{b.index}")))
                        .otherwise(F.col(col)),
                    )
                    fn = lambda _wm, out=out: out  # noqa: E731
                feeds.append(self._feed(ent, tag, fn))
        return feeds

    # -- running ---------------------------------------------------------------

    def new_warehouse(self, path: Path) -> None:
        self.wh = VersionedWarehouse(self.spark, str(path))
        # Known program defect, worked round and reported as KNOWN_DEFECT:
        # under AuditLog's default of 8 retained versions, the parallel
        # ingestion stages vacuum the version a concurrent watermark fetch
        # is still reading, and the fetch fails with FileNotFoundException
        # (every initial load failed that way). Keeping the whole audit
        # history avoids it; remove this once the program is fixed.
        self.wh.set_retention("audit", "audit_logs", None)
        self.audit = AuditLog(self.wh, self.clock)

    def run(self, feeds: list, tracer=None) -> dict[str, float]:
        """Land the feeds, then silver over the landed entities, then gold.
        Returns the wall of each runner phase."""
        def span(name):
            return tracer.span(name) if tracer else nullcontext()

        frames = {row.target_file_name: fn for row, fn in feeds}
        resolvers = {"frame": lambda row, wm: frames[row.target_file_name](wm)}
        walls = {}
        t = time.perf_counter()
        with span("runner.ingestion"):
            landed = ingestion.run_ingestion(self.audit, [r for r, _ in feeds], resolvers)
        walls["ingestion"] = time.perf_counter() - t
        bronze: dict[str, list] = {}
        for row, _ in feeds:
            tag = None if row.table_name in SINGLE else row.db_name
            bronze.setdefault(row.table_name, []).append(
                (self.wh.read("bronze", landed[row.target_file_name]), tag)
            )
        t = time.perf_counter()
        with span("runner.silver"):
            pipeline.run_silver(self.wh, bronze, self.clock, self.audit)
        walls["silver"] = time.perf_counter() - t
        t = time.perf_counter()
        with span("runner.gold"):
            pipeline.run_gold(self.wh, self.clock, self.audit)
        walls["gold"] = time.perf_counter() - t
        return walls

    # -- checks ----------------------------------------------------------------

    def audit_rows(self, since: dt.datetime) -> list:
        return (
            self.audit.read()
            .filter(F.col("inserted_at") >= F.lit(since))
            .select("source_system", "source_object", "status", "rows_processed",
                    "watermark_value", "start_time", "end_time")
            .collect()  # bounded: two rows per stage of one op
        )

    def check_audit(self, rows: list, stages: int) -> list[str]:
        bad = []
        status = [r.status for r in rows]
        if "FAILED" in status:
            bad.append("audit_failed_stage")
        if status.count("STARTED") != stages or status.count("SUCCESS") != stages:
            bad.append("audit_not_bracketed")
        return bad

    def check_watermarks(self, rows: list) -> list[str]:
        """Each watermark feed that landed rows moved its watermark forward;
        one that landed none kept it."""
        bad = []
        for r in rows:
            ent = r.source_object.split("__")[0]
            if r.status != "SUCCESS" or r.source_system in ("silver", "gold") or ent not in WATERMARKED:
                continue
            old = self.watermarks.get(r.source_object, "")
            new = r.watermark_value or ""
            if (r.rows_processed > 0 and not new > old) or (r.rows_processed == 0 and new != old):
                bad.append(f"watermark_not_advanced:{r.source_object}")
            self.watermarks[r.source_object] = new
        return bad

    def check_gold_matches_silver(self) -> list[str]:
        """Each fact holds exactly the keys of the non-quarantined current
        silver rows it is built from (count and key-hash sum agree)."""
        from end_to_end_azure_data_engineering_spark.operators.quality import current_valid

        facts = {
            "fact_transaction": ("transactions", "transaction_key"),
            "fact_settlement": ("settlements", "settlement_key"),
            "fact_dispute": ("disputes", "dispute_key"),
        }
        bad = []
        for fact, (ent, key) in facts.items():
            silver = self.wh.read("silver", ent)
            silver = (current_valid(silver) if "is_current" in silver.columns
                      else silver.filter(~F.col("is_quarantined")))

            def sig(df, k):
                return df.agg(F.count("*").alias("n"),
                              F.sum(F.xxhash64(k) % 1_000_003).alias("h"))

            a = sig(silver, key).first()
            b = sig(self.wh.read("gold", fact), key).first()
            if (a.n, a.h) != (b.n, b.h):
                bad.append(f"gold_ne_silver:{fact}")
        return bad

    def check_batch(self, b: Batch, since: dt.datetime, audit_rows: list) -> tuple[list[str], dict]:
        """Per-batch invariants, plus the scd2/appends counters derived from
        the silver tables."""
        bad: list[str] = []
        counters = {"scd2.rows_expired": 0, "scd2.rows_inserted": 0, "scd2.target_rows": 0,
                    "appends.rows_skipped": 0}
        t0 = F.lit(since)
        redelivered = self.redelivered(b)
        for name in SCD2_TABLES:
            key = SILVER_SPECS[name].key
            id_col, val_col, changed, same = redelivered.get(name, (None, None, [], []))
            changed, same = set(changed), set(same)
            cur = F.col("is_current")
            aggs = [_count_if(cur).alias("cur"), F.count("*").alias("rows"),
                    _count_if(F.col("audit_insertdate") >= t0).alias("ins"),
                    _count_if(~cur & (F.col("audit_modifieddate") >= t0)).alias("exp")]
            touched = (F.col("ins") > 0) | (F.col("exp") > 0)
            if id_col:
                aggs += [F.first(id_col).alias("id"), F.max(F.when(cur, F.col(val_col))).alias("val")]
                touched = touched | F.col("id").isin(sorted(changed | same))
            # bounded: the keys one batch touched
            rows = self.wh.read("silver", name).groupBy(key).agg(*aggs).filter(touched).collect()
            counters["scd2.rows_inserted"] += sum(r.ins for r in rows)
            counters["scd2.rows_expired"] += sum(r.exp for r in rows)
            counters["scd2.target_rows"] += footer_rows(self.wh.data_dir("silver", name))
            if any(r.cur != 1 for r in rows):
                bad.append(f"scd2_not_one_current:{name}")
            if not id_col:
                continue
            # changed keys: one expired + one new current row carrying the
            # change; unchanged re-deliveries: untouched
            seen = {r.id: r for r in rows}
            for ident in sorted(changed | same):
                r = seen.get(ident)
                want = (2, 1, 1) if ident in changed else (1, 0, 0)
                if (r is None or (r.rows, r.ins, r.exp) != want
                        or (ident in changed and not r.val.endswith(f"~b{b.index}"))):
                    bad.append(f"{'scd2_change' if ident in changed else 'scd2_noop'}:{name}")
                    break
        # settlements: the replayed window is skipped, each id once
        d = F.col("settlement_date")
        rows = (
            self.wh.read("silver", "settlements")
            .filter(d > F.lit(_shift(b.replay_from, SETTLE_LAG).isoformat()).cast("date"))
            .select("settlement_id", "settlement_date",
                    (F.col("audit_insertdate") >= t0).alias("ins"))
            .collect()  # bounded: two windows of settlements
        )
        delivered = sum(r.rows_processed for r in audit_rows
                        if r.status == "SUCCESS" and r.source_object.startswith("settlements__"))
        inserted = [r for r in rows if r.ins]
        new_from = _shift(b.lower, SETTLE_LAG)
        if (len({r.settlement_id for r in rows}) != len(rows)
                or len(rows) != delivered
                or any(r.settlement_date <= new_from for r in inserted)):
            bad.append("appends_replay_not_noop:settlements")
        counters["appends.rows_skipped"] = delivered - len(inserted)
        return bad, counters

    def stages_per_batch(self) -> int:
        ingest = sum(len(self.bronze[e]) for e in BATCH_ENTITIES)
        return ingest + len(BATCH_ENTITIES) + len(GOLD_DEPS)

    def stages_full(self) -> int:
        return sum(len(v) for v in self.bronze.values()) + len(SILVER_SPECS) + len(GOLD_DEPS)
