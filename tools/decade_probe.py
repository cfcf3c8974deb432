"""Third-decade scaling probe: sf1 → synthetic sf10 (r7).

`tools/scale_probe.py` measures sf0.01 → sf0.1 → sf1 (two decades). This
probe extends the ladder one more: it replicates the cached synthetic sf1
ten more times (key-shifted, same construction) into ~sf10 — 60M lineitem
/ 15M orders / 2M docs — and times a representative query per physical
class at sf1 and sf10, warm min-of-2. The question: do the ratios stay in
the same sub-linear band one decade further, i.e. is the sf0.1→sf1
behavior an overhead artifact or the actual data-cost curve?

Usage: python tools/decade_probe.py [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from scale_probe import SF1_DIR, build_sf1  # noqa: E402

SF10_DIR = "/tmp/end_to_end_azure_data_engineering_sf10"
REPLICAS = 10

# shift steps sized past the max key AFTER the sf1 replication
SHIFTS = {
    "lineitem": {"l_orderkey": 100_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "events": {"event_id": 100_000_000, "user_id": 100_000},
    "documents": {"doc_id": 100_000_000},
    "embeddings": {"vec_id": 100_000_000},
}
COPY_ONLY = ["region", "nation", "supplier", "part"]

# one representative per physical class (scan-agg, join chain, window
# dedup, events sessionization, join+topk, heavy self-join, global
# reduction window)
DEFAULT_QUERIES = [
    "pricing_summary",
    "two_hop_join",
    "window_dedup_latest",
    "sessionize_events",
    "returned_item_revenue",
    "copurchase_jaccard",
    "orders_backlog_timeline",
    "customer_spend_deciles",
]


def build_sf10(spark) -> None:
    from pyspark.sql import functions as F

    out = Path(SF10_DIR)
    if (out / "_READY").exists():
        return
    out.mkdir(parents=True, exist_ok=True)
    for t in COPY_ONLY:
        spark.read.parquet(f"{SF1_DIR}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{SF10_DIR}/{t}.parquet")
    for t, shifts in SHIFTS.items():
        df = spark.read.parquet(f"{SF1_DIR}/{t}.parquet")
        rep = df.withColumn("_r", F.explode(F.lit(list(range(REPLICAS)))))
        for col, step in shifts.items():
            rep = rep.withColumn(col, F.col(col) + F.col("_r").cast("long") * step)
        rep.drop("_r").write.mode("overwrite").parquet(f"{SF10_DIR}/{t}.parquet")
    (out / "_READY").touch()


def main() -> int:
    names = sys.argv[1:] or DEFAULT_QUERIES

    import __spark_entry__ as ent
    from end_to_end_azure_data_engineering_spark.engine import get_spark
    from end_to_end_azure_data_engineering_spark.engine.pin import release

    spark = get_spark("decade_probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_sf1(spark)
    build_sf10(spark)
    qs = ent.queries()

    def timed(fn, sf_dir):
        best = None
        for _ in range(3):  # run 1 = warm-up, report min of runs 2-3
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            release(df)
            best = el if best is None else min(best, el)
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        return best

    print(f"{'query':28s} {'sf1':>8s} {'sf10':>8s}  ratio(10/1)")
    for name in names:
        t1 = timed(qs[name], SF1_DIR)
        t10 = timed(qs[name], SF10_DIR)
        print(f"{name:28s} {t1:>8.2f} {t10:>8.2f}  {t10 / max(t1, 1e-9):>6.1f}x")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
