"""Query mix: registered queries run in a seed-shuffled order, each written
to a noop sink.

The mix is ``bench.HEADLINE`` cut down to fit one run: the five hot paths
named below, plus, for every ``queries/*`` module they leave out, that
module's first ``HEADLINE`` query. The rule looks at module membership
and list order only, never at a query's speed or steadiness.
"""

from __future__ import annotations

import random
import time
from contextlib import nullcontext
from pathlib import Path

HOT_PATHS = (
    "ann_ivf_refined_topk",
    "incremental_components_merge",
    "pagerank_copurchase",
    "dedup_minhash_lsh",
    "order_fill_rate_weekly",
)

def select_queries(modules: dict[str, str], headline: list[str]) -> list[str]:
    """``modules`` maps every registered query to its module. Returns the
    hot paths, then one query for each module they do not cover: its first
    ``headline`` entry, else its first registered query."""
    chosen = [q for q in HOT_PATHS if q in modules]
    covered = {modules[q] for q in chosen}
    for mod in sorted(set(modules.values()) - covered):
        own = [q for q in headline if modules.get(q) == mod] or [
            q for q in modules if modules[q] == mod
        ]
        chosen.append(own[0])
    return chosen


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The order of one pass: a fresh shuffle per pass, fixed by the seed."""
    return random.Random(f"{seed}/{pass_no}").sample(names, len(names))


class QueryMix:
    def __init__(self, spark, sf_dir: str, seed: int):
        import __spark_entry__ as entry
        import bench

        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        modules = {n: f.__module__.rsplit(".", 1)[-1] for n, f in self.registry.items()}
        self.names = select_queries(modules, bench.HEADLINE)
        self.failed_check: dict[str, str] = {}
        #: query -> Spark seconds of the check pass
        self.check_s: dict[str, float] = {}
        self.passes = 0
        self._oracle_tool = Path(entry.__file__).resolve().parent / "tools" / "check_oracle.py"

    def _release(self, df) -> None:
        from end_to_end_azure_data_engineering_spark.operators.neardup import (
            release_checkpoints,
        )

        release_checkpoints(df)
        self.spark.catalog.clearCache()

    def check(self) -> None:
        """Run every query once, collect it and compare it with its DuckDB
        oracle on the same tables — the comparison of tools/check_oracle.py
        (row count, column names, order-insensitive typed values). This
        is also the warm-up pass. The oracles run on one DuckDB thread
        beside the Spark pass. A mismatch is kept by name and every later
        op of that query counts as failed."""
        import importlib.util
        import threading

        spec = importlib.util.spec_from_file_location("check_oracle", self._oracle_tool)
        tool = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(tool)
        oracle: dict[str, tuple] = {}
        worker = threading.Thread(target=self._run_oracles, args=(tool.TABLES, oracle))
        worker.start()
        spark_rows: dict[str, tuple] = {}
        try:
            for name in self.names:
                t0 = time.perf_counter()
                try:
                    sdf = self.registry[name](self.spark, self.sf_dir)
                    spark_rows[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])
                    self._release(sdf)
                except Exception as exc:  # noqa: BLE001 — recorded as a failed check
                    self.failed_check[name] = f"spark error: {type(exc).__name__}: {exc}"[:300]
                self.check_s[name] = time.perf_counter() - t0
        finally:
            worker.join()
        for name, (scols, srows) in spark_rows.items():
            dcols, drows = oracle.get(name, (None, "oracle did not run"))
            if dcols is None:
                self.failed_check[name] = drows
            elif sorted(scols) != sorted(dcols):
                self.failed_check[name] = "columns differ"
            elif tool._norm_rows(scols, srows) != tool._norm_rows(dcols, drows):
                self.failed_check[name] = f"values differ ({len(srows)} vs {len(drows)} rows)"

    def _run_oracles(self, tables, out: dict) -> None:
        import duckdb

        con = duckdb.connect(config={"threads": 1})
        try:
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in self.names:
                try:
                    rel = con.sql(self.oracles[name])
                    out[name] = (list(rel.columns), rel.fetchall())
                except Exception as exc:  # noqa: BLE001 — recorded as a failed check
                    out[name] = (None, f"oracle error: {type(exc).__name__}: {exc}"[:300])
        finally:
            con.close()

    def run_pass(self, tracer=None) -> list[dict]:
        """One pass over the mix. Op latency is build (the query callable)
        plus write (the noop sink)."""
        def span(name):
            return tracer.span(name) if tracer else nullcontext()

        ops = []
        for name in pass_order(self.names, self.seed, self.passes):
            op = {"name": name, "ok": name not in self.failed_check}
            df = None
            t0 = time.perf_counter()
            try:
                with (tracer.op(f"op:{name}") if tracer else nullcontext()):
                    with span(f"queries.build:{name}"):
                        df = self.registry[name](self.spark, self.sf_dir)
                    op["build"] = time.perf_counter() - t0
                    with span(f"queries.write:{name}"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                op.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
            op["wall"] = time.perf_counter() - t0
            if df is not None:
                self._release(df)
            ops.append(op)
        self.passes += 1
        return ops
