"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload medallion_incremental --seed 1 --seconds 5 --trace 0

Workloads (closed loop, one client, ``local[nproc]``):

- ``medallion_incremental``: seeded change batches against a versioned
  warehouse that setup loaded once (see ``medallion.py``). Op = one batch.
- ``query_mix``: the query mix of ``querymix.py``. Op = one query; a pass
  runs every query of the mix once.

A run sets up, then measures whole passes until ``--seconds`` of pass time
have gone by (at least one pass, two of the query mix), then checks the
outputs. The last line
of stdout is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the full result (exec stamp, op
samples, failures by name); ``compare.py`` compares files of those lines.
A traced run alternates untraced and traced passes, so it can report its
own tracing overhead, and writes its spans to
``.perfbench_work/traces/``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit, apart from the trace file. The input is
the read-only testdata directory given by ``--data``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: end-to-end metrics and their units. The op tail is left out: a run
#: yields 1 (medallion) or 24 (query mix) op samples, so the highest
#: percentile with 10 samples beyond it is the maximum or the 58th, no
#: tail apart from op_p50_s; the full result line still records it
E2E = {"setup_s": "s", "run_s": "s", "op_p50_s": "s",
       "task_cpu_s": "s", "peak_rss_mb": "MB"}
LAYERS = ("op", "runner", "ingest", "conform", "scd2", "appends", "gold",
          "audit", "tableio", "queries", "pin")
#: silver load kind -> layer; a change batch lands no full-refresh entity
LOAD_LAYER = {"scd2": "scd2", "append": "appends"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit, in report order."""
    from querymix import HOT_PATHS
    from tracing import SPARK_COUNTERS

    units = {
        "runner.ingestion_s": "s", "runner.silver_s": "s", "runner.gold_s": "s",
        "runner.overlap_ingestion": "ratio", "runner.overlap_silver": "ratio",
        "runner.overlap_gold": "ratio", "runner.ready_wait_s": "s",
        "audit.inserts": "count", "audit.insert_s": "s", "audit.watermark_fetch_s": "s",
        "audit.spark_fallbacks": "count",
        "scd2.rows_expired": "count", "scd2.rows_inserted": "count",
        "scd2.target_rows_per_changed_row": "ratio", "appends.rows_skipped": "count",
        "tableio.writes": "count", "tableio.write_s": "s", "tableio.bytes_written": "bytes",
        "tableio.files_written": "count", "tableio.commits": "count", "tableio.reads": "count",
        "tableio.versions_retained": "count", "tableio.stored_bytes": "bytes",
        "tableio.stored_bytes_ratio": "ratio",
        "queries.build_s": "s", "queries.write_s": "s", "queries.build_jobs": "count",
        "queries.write_jobs": "count",
        **{f"q.{q}_s": "s" for q in HOT_PATHS},
        "pin.calls": "count", "pin.s": "s",
    }
    for c in SPARK_COUNTERS:
        units[c] = "s" if c.endswith("_s") else ("bytes" if c.endswith("_bytes") else "count")
    units.update({f"self.{layer}_s": "s" for layer in LAYERS})
    units["trace.overhead_frac"] = "ratio"
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(BUILDERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", default=str(Path.home() / "testdata" / "sf0.01"),
                   help="read-only testdata directory (TPC-H-ish parquet tables)")
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``, and
    size the driver to this host: a quarter of physical memory, at most
    8g (the session default of 48g overcommits a small host)."""
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "spark-warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(8, int(mem_gb // 4)))}g")


def start_spark(work: Path):
    from end_to_end_azure_data_engineering_spark.engine import get_spark

    return get_spark("perfbench", {
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the status store keeps every job and stage of one run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def gc_seconds(sc) -> float:
    """Collection time the driver JVM has spent so far."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def exec_stamp(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "load_start": list(os.getloadavg()),
    }


# -- workloads -----------------------------------------------------------------


class MedallionWorkload:
    """``medallion_incremental``: setup loads a VersionedWarehouse once with
    the newest orders held back and checks it; that load is the warm-up
    (a warm-up batch as well did not fit the run budget); a pass is one
    change batch."""

    min_passes = 1

    def __init__(self, spark, data: str, seed: int, work: Path):
        from medallion import KNOWN_DEFECT, Medallion

        self.m = Medallion(spark, data, work, seed)
        self.known_defects = [KNOWN_DEFECT]

    def setup(self) -> list[str]:
        m = self.m
        m.new_warehouse(m.root / "warehouse")
        since = m.clock.now()
        m.run(m.initial_feeds(m.plan.cutoff))
        rows = m.audit_rows(since)
        return (m.check_audit(rows, m.stages_full()) + m.check_watermarks(rows)
                + m.check_gold_matches_silver())

    @property
    def wh(self):
        return self.m.wh

    def exhausted(self) -> bool:
        return self.m.next_batch == len(self.m.plan.batches)

    def run_pass(self, tracer=None) -> list[dict]:
        m = self.m
        b = m.plan.batches[m.next_batch]
        m.next_batch += 1
        op = {"name": f"batch{b.index}", "ok": True, "batch": b}
        t0 = time.perf_counter()
        try:
            with tracer.op(f"op:{op['name']}") if tracer else nullcontext():
                op["since"] = m.clock.now()
                op["phases"] = m.run(m.batch_feeds(b), tracer)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            op.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
        op["wall"] = time.perf_counter() - t0
        return [op]

    def after_pass(self, ops) -> tuple[list[str], dict]:
        m = self.m
        op = ops[0]
        if not op["ok"]:
            return [f"{op['name']}: {op.get('error')}"], {}
        rows = m.audit_rows(op["since"])
        counters = runner_counters(rows, op["phases"])
        bad = m.check_audit(rows, m.stages_per_batch()) + m.check_watermarks(rows)
        more, batch_counters = m.check_batch(op["batch"], op["since"], rows)
        bad += more
        counters.update(batch_counters)
        if bad:
            op["ok"] = False
        return [f"{op['name']}: {b}" for b in bad], counters

    def instrument(self, ins) -> None:
        from end_to_end_azure_data_engineering_spark.plans import gold, ingestion, pipeline

        ins.module_attr(ingestion, "incremental_ingest",
                        lambda audit, system, obj, *a, **k: f"ingest.incremental:{obj}")
        ins.module_attr(pipeline, "conform_entity", lambda spec, *a, **k: f"conform:{spec.name}")
        ins.module_attr(pipeline, "load_entity",
                        lambda wh, spec, *a, **k: f"{LOAD_LAYER[spec.load]}.load:{spec.name}")
        ins.dict_values(gold.GOLD_BUILDERS, lambda name, *a, **k: f"gold.build:{name}")
        ins.warehouse(self.m.wh)
        ins.audit(self.m.audit)


class QueryMixWorkload:
    """Setup: the oracle check, which is also the warm-up pass. A pass runs
    the whole mix once."""

    wh = None  # writes no tables
    known_defects: list[str] = []
    #: query ops are short (0.3-4 s) and each one's wall spreads by up to
    #: half its median between runs, so a run times two passes (24 ops)
    min_passes = 2

    def __init__(self, spark, data: str, seed: int, work: Path):
        from querymix import QueryMix

        self.q = QueryMix(spark, data, seed)

    def setup(self) -> list[str]:
        self.q.check()
        return [f"oracle mismatch: {n}: {why}" for n, why in self.q.failed_check.items()]

    def exhausted(self) -> bool:
        return False

    def run_pass(self, tracer=None) -> list[dict]:
        return self.q.run_pass(tracer)

    def after_pass(self, ops) -> tuple[list[str], dict]:
        return [f"{o['name']}: {o.get('error', 'failed its oracle check')}"
                for o in ops if not o["ok"]], {}

    def instrument(self, ins) -> None:
        ins.pins()


def runner_counters(audit_rows, walls: dict) -> dict:
    """Runner figures of one op from its audit rows: per phase, summed stage
    wall over phase wall (overlap), and the summed wait of each stage for
    its latest dependency (or for its phase start)."""
    from end_to_end_azure_data_engineering_spark.plans.gold import GOLD_DEPS
    from end_to_end_azure_data_engineering_spark.plans.pipeline import SILVER_DEPS

    done = [r for r in audit_rows if r.status == "SUCCESS"]

    def phase(r):
        return r.source_system if r.source_system in ("silver", "gold") else "ingestion"

    out = {}
    for ph in ("ingestion", "silver", "gold"):
        stage_s = sum((r.end_time - r.start_time).total_seconds() for r in done if phase(r) == ph)
        out[f"runner.overlap_{ph}"] = stage_s / walls[ph] if walls.get(ph) else 0.0
        out[f"runner.{ph}_s"] = walls.get(ph, 0.0)
    ends = {(phase(r), r.source_object): r.end_time for r in done}
    starts = {ph: min((r.start_time for r in done if phase(r) == ph), default=None)
              for ph in ("ingestion", "silver", "gold")}
    wait = 0.0
    for r in done:
        ph = phase(r)
        deps = {"silver": SILVER_DEPS, "gold": GOLD_DEPS}.get(ph, {}).get(r.source_object, [])
        dep_ends = [ends[(ph, d)] for d in deps if (ph, d) in ends]
        ready = max(dep_ends) if dep_ends else starts[ph]
        wait += max(0.0, (r.start_time - ready).total_seconds())
    out["runner.ready_wait_s"] = wait
    return out


BUILDERS = {"medallion_incremental": MedallionWorkload, "query_mix": QueryMixWorkload}


# -- files on disk ------------------------------------------------------------------


def inventory(root: Path) -> dict[int, tuple[int, str]]:
    """inode -> (bytes, namespace) of every file under a warehouse root."""
    out = {}
    if root.exists():
        for p in root.rglob("*"):
            if p.is_file():
                st = p.stat()
                out[st.st_ino] = (st.st_size, p.relative_to(root).parts[0])
    return out


# -- the run -----------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    # a killed run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [str(ROOT), str(HERE)]
    if importlib.util.find_spec("end_to_end_azure_data_engineering_spark") is None:
        raise SystemExit(f"the program's package is not in {ROOT}")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(work)

    import stats
    from tracing import Instruments, JobLog, PeakRss, Tracer, jvm_pid

    t_setup = time.perf_counter()
    spark = start_spark(work)
    try:
        stamp = exec_stamp(spark)
        wl = BUILDERS[args.workload](spark, args.data, args.seed, work)
        t_session = time.perf_counter() - t_setup
        setup_failures = wl.setup()
        setup_s = time.perf_counter() - t_setup

        import bench

        t = time.perf_counter()
        stamp["canary"] = bench.host_canary(spark, runs=1)
        timing = {"session_s": t_session, "setup_s": setup_s, "canary_s": time.perf_counter() - t,
                  "check_s": 0.0}
        sc = spark.sparkContext
        jobs = JobLog(sc)
        rss = PeakRss([jvm_pid(sc), os.getpid()])
        tracer = Tracer(sc)
        inv = inventory(wl.wh.root) if wl.wh is not None else {}

        passes: list[dict] = []
        failures: list[str] = []
        measured = 0.0
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            ins = Instruments(tracer)
            if traced:
                wl.instrument(ins)
            first_span = len(tracer.spans)
            j0 = jobs.refresh()
            # every pass starts from a collected heap, so its memory peak
            # does not depend on when the previous pass last collected
            sc._jvm.java.lang.System.gc()
            rss.reset()
            gc0 = gc_seconds(sc)
            t0 = time.perf_counter()
            try:
                ops = wl.run_pass(tracer if traced else None)
            finally:
                ins.undo()
            wall = time.perf_counter() - t0
            gc_s = gc_seconds(sc) - gc0
            peak = rss.read_mb()
            j1 = jobs.refresh()
            p = {"traced": traced, "wall": wall, "peak_rss_mb": peak, "ops": ops, "gc_s": gc_s,
                 "jobs": list(range(j0 + 1, j1 + 1)), "spans": (first_span, len(tracer.spans))}
            p["spark"] = jobs.counters(p["jobs"])
            t = time.perf_counter()
            bad, p["counters"] = wl.after_pass(ops)
            timing["check_s"] += time.perf_counter() - t
            failures += bad
            if wl.wh is not None:
                after = inventory(wl.wh.root)
                new = [size for ino, (size, _) in after.items() if ino not in inv]
                p["counters"]["tableio.bytes_written"] = sum(new)
                p["counters"]["tableio.files_written"] = len(new)
                inv = after
            passes.append(p)
            measured += wall
            enough = (measured >= args.seconds
                      and len(passes) >= max(wl.min_passes, 1 + args.trace))
            if enough or wl.exhausted():
                break
        stamp["load_end"] = list(os.getloadavg())
        stamp["known_defects"] = wl.known_defects

        ops = [o for p in passes for o in p["ops"]]
        attempted = len(ops)
        failed = sum(not o["ok"] for o in ops)
        result = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "data": args.data, "exec": stamp, "setup_failures": setup_failures,
            "timing": timing,
            "failures": failures, "attempted": attempted, "failed": failed,
            "failed_frac": failed / attempted,
        }
        walls = [o["wall"] for o in ops]
        untraced = [p for p in passes if not p["traced"]]
        tail_v, tail_pct, n = stats.tail(walls)
        result.update(op_tail_s=tail_v, op_tail_pct=tail_pct, op_samples=n, passes=len(passes),
                      ops=[[o["name"], o["wall"], o["ok"], o.get("phases")] for o in ops],
                      gc_s=[p["gc_s"] for p in passes],
                      spark=[{k: p["spark"][k] for k in ("spark.jobs", "spark.stages", "spark.tasks")}
                             for p in passes])
        e2e = {
            "setup_s": setup_s,
            "run_s": stats.median([p["wall"] for p in untraced]),
            "op_p50_s": stats.median(walls),
            "task_cpu_s": stats.median([p["spark"]["spark.task_cpu_s"] for p in untraced]),
            "peak_rss_mb": stats.median([p["peak_rss_mb"] for p in untraced]),
        }
        if args.workload == "query_mix":
            result["check_s"] = wl.q.check_s
            result["query_s"] = {
                q: stats.median([o["wall"] for o in ops if o["name"] == q])
                for q in wl.q.names
            }
        if args.trace:
            layer, result["trace_self_sum_frac"] = layer_metrics(passes, tracer, jobs, wl)
            result["metrics"] = {**e2e, **layer}
            units = per_layer_names()
            metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
            write_trace(work.parent / "traces", args, tracer, jobs)
        else:
            result["metrics"] = e2e
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
        print(json.dumps({"result": result}, default=str))
        print(json.dumps({
            "correct": not failed and not setup_failures,
            "attempted": attempted, "failed": failed, "metrics": metrics,
        }))
        return 0
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def layer_metrics(passes, tracer, jobs, wl) -> tuple[dict, float]:
    """Per-layer figures of a traced run, each a median over passes.
    Span figures (times, call counts, self times, jobs per query phase)
    come from the traced passes; counters read from outside (Spark status
    store, files, audit and silver tables) from every pass; q.<name>_s is
    the median untraced op wall of that query. Also returns the summed
    self times over the summed op walls of the traced passes: 1 by the way
    ``stats.self_times`` splits the timeline, a sanity invariant that
    shows spans lost or misparented, not a measurement."""
    import stats
    from querymix import HOT_PATHS
    from tracing import SPARK_COUNTERS

    names = per_layer_names()
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    out: dict = dict.fromkeys(names, 0.0)
    per_pass = []
    self_sum = op_sum = 0.0
    for p in traced:
        spans = tracer.spans[p["spans"][0]:p["spans"][1]]
        d: dict = {}

        def add(key, value=1.0):
            d[key] = d.get(key, 0.0) + value

        for s in spans:
            if s.name == "audit.insert":
                add("audit.inserts")
                add("audit.insert_s", s.dur)
            elif s.name == "audit.watermark_fetch":
                add("audit.watermark_fetch_s", s.dur)
            elif s.name == "tableio.write":
                add("tableio.writes")
                add("tableio.commits")
                add("tableio.write_s", s.dur)
            elif s.name == "tableio.insert_file":
                add("tableio.commits")
            elif s.name == "tableio.read":
                add("tableio.reads")
            elif s.name == "pin":
                add("pin.calls")
                add("pin.s", s.dur)
            elif s.name.startswith("queries.build:"):
                add("queries.build_s", s.dur)
            elif s.name.startswith("queries.write:"):
                add("queries.write_s", s.dur)
        for layer, t in stats.layer_self_times(spans).items():
            add(f"self.{layer}_s", t)
            self_sum += t
        op_sum += sum(s.dur for s in spans if s.parent is None)
        groups = jobs.by_group(p["jobs"])
        for sid, root in stats.inclusive_ids(spans, ("queries.build", "queries.write")).items():
            add(f"{root}_jobs", len(groups.get(f"pb-{sid}", [])))
        per_pass.append(d)
    for k in {k for d in per_pass for k in d}:
        out[k] = stats.median([d.get(k, 0.0) for d in per_pass])
    for k in {k for p in passes for k in p["counters"]}:
        out[k] = stats.median([p["counters"].get(k, 0.0) for p in passes])
    for c in SPARK_COUNTERS:
        out[c] = stats.median([p["spark"][c] for p in passes])
    ratios = [c["scd2.target_rows"] / (c["scd2.rows_expired"] + c["scd2.rows_inserted"])
              for c in (p["counters"] for p in passes)
              if c.get("scd2.rows_expired", 0) + c.get("scd2.rows_inserted", 0)]
    out["scd2.target_rows_per_changed_row"] = stats.median(ratios) if ratios else 0.0
    if wl.wh is not None:
        # the audit table is left out: its retention is overridden (see
        # medallion.KNOWN_DEFECT), so its versions are not the program's
        files = {k: v for k, v in inventory(wl.wh.root).items() if v[1] != "audit"}
        out["tableio.stored_bytes"] = sum(s for s, _ in files.values())
        out["tableio.versions_retained"] = sum(
            1 for ns in wl.wh.root.iterdir() if ns.name != "audit" for _ in ns.rglob("_v*"))
        # every bronze drop stays on disk: stamped watermark tables in
        # bronze, rotated full drops in archive
        delivered = sum(s for s, ns in files.values() if ns in ("bronze", "archive"))
        out["tableio.stored_bytes_ratio"] = out["tableio.stored_bytes"] / delivered
        out["audit.spark_fallbacks"] = sum(
            1 for f in wl.wh.data_dir("audit", "audit_logs").glob("*.parquet")
            if not f.name.startswith("part-audit-") and _rows(f) > 0)
    for q in HOT_PATHS:
        w = [o["wall"] for p in (plain or passes) for o in p["ops"] if o["name"] == q]
        out[f"q.{q}_s"] = stats.median(w) if w else 0.0
    if traced and plain:
        out["trace.overhead_frac"] = (
            stats.median([p["wall"] for p in traced]) / stats.median([p["wall"] for p in plain]) - 1)
    return {k: float(out[k]) for k in names}, self_sum / op_sum


def _rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def write_trace(out_dir: Path, args, tracer, jobs) -> None:
    """Spans of the traced passes, with the Spark jobs each one submitted."""
    out_dir.mkdir(parents=True, exist_ok=True)
    groups = jobs.by_group(list(jobs.jobs))
    doc = [
        {"id": s.sid, "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
         "parent": s.parent, "op": s.op, "thread": s.thread,
         "jobs": groups.get(f"pb-{s.sid}", [])}
        for s in tracer.spans
    ]
    path = out_dir / f"{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps(doc))


if __name__ == "__main__":
    sys.exit(main())
