"""Pure helpers of the benchmark: summaries, self time, exec stamps.

Nothing here touches Spark, so ``perfbench/tests`` covers it without a
session.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass

#: stamp fields that define what was measured; two result sets whose values
#: differ on any of these measured different systems and are never compared
EXEC_IDENTITY = ("nproc", "master", "default_parallelism", "driver_memory")
#: result fields that change every metric as well: the input scale and
#: whether the run was traced
RUN_IDENTITY = ("data", "trace")

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that has at least ``TAIL_BEYOND``
    samples above it: ``(value, percentile, sample_count)``.

    With ``n`` sorted samples that is the sample at index ``n - 11``, the
    ``100 * (n - 10) / n`` percentile. Below 20 samples that percentile is
    under the median, so it is no tail: the maximum is reported instead
    and the percentile reads 100; the sample count says how thin that is."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * TAIL_BEYOND:
        return s[-1], 100.0, n
    i = n - TAIL_BEYOND - 1
    return s[i], round(100.0 * (i + 1) / n, 2), n


@dataclass
class Span:
    """One timed call across a layer boundary. ``layer`` is the name up to
    the first dot (``tableio.write`` → ``tableio``)."""

    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0].split(":", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span, sharing concurrent time.

    Cut the timeline at every span boundary. In each slice, the spans that
    are running and have no running child are the ones doing the work;
    the slice is split evenly between them. Concurrent DAG stages under
    one phase span therefore each get half of a slice they share, and the
    self times of one op's spans sum to the op span's wall exactly."""
    if not spans:
        return {}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    cuts = sorted({t for s in spans for t in (s.start, s.end)})
    out = {s.sid: 0.0 for s in spans}
    for lo, hi in zip(cuts, cuts[1:]):
        running = [s for s in spans if s.start <= lo and s.end >= hi]
        busy_ids = {s.sid for s in running}
        leaves = [
            s for s in running
            if not any(c.sid in busy_ids for c in children.get(s.sid, ()))
        ]
        for s in leaves:
            out[s.sid] += (hi - lo) / len(leaves)
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer (see :func:`self_times`)."""
    by_id = {s.sid: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for sid, t in self_times(spans).items():
        out[by_id[sid].layer] += t
    return dict(out)


def inclusive_ids(spans: list[Span], root_names: tuple[str, ...]) -> dict[int, str]:
    """Map every span id to the name prefix of its nearest ancestor-or-self
    whose name starts with one of ``root_names`` (spans under none are
    left out). Used to give a Spark job to, say, the query's build phase
    when the job ran inside a pin call inside that build."""
    by_id = {s.sid: s for s in spans}
    out: dict[int, str] = {}
    for s in spans:
        cur: Span | None = s
        while cur is not None:
            hit = next((r for r in root_names if cur.name.startswith(r)), None)
            if hit:
                out[s.sid] = hit
                break
            cur = by_id.get(cur.parent) if cur.parent is not None else None
    return out


class ExecMismatch(ValueError):
    """Two result sets were measured on different exec configurations or
    inputs, or one traced and one not."""


def exec_mismatch(a: dict, b: dict) -> list[str]:
    """Identity fields whose values differ between two results: the exec
    stamp's, then the run's own."""
    return ([k for k in EXEC_IDENTITY if a["exec"].get(k) != b["exec"].get(k)]
            + [k for k in RUN_IDENTITY if a.get(k) != b.get(k)])


def _identity(r: dict, k: str):
    return r["exec"].get(k) if k in EXEC_IDENTITY else r.get(k)


def compare_results(base: list[dict], new: list[dict]) -> dict:
    """Per workload and end-to-end metric: the two medians and the change
    as a share of the base median. Refuses (``ExecMismatch``) when any two
    results differ in an identity field — a 4-core run is never weighed
    against a 32-core one, sf0.01 against sf0.1, or traced against
    untraced."""
    if not base or not new:
        raise ValueError("both result sets need at least one result")
    ref = base[0]
    for r in base + new:
        bad = exec_mismatch(ref, r)
        if bad:
            raise ExecMismatch(
                "results differ on "
                + ", ".join(f"{k}: {_identity(ref, k)!r} vs {_identity(r, k)!r}" for k in bad)
            )
    out: dict = {}
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        a = [r["metrics"] for r in base if r["workload"] == wl]
        b = [r["metrics"] for r in new if r["workload"] == wl]
        rows = {}
        for m in sorted(set(a[0]) & set(b[0])):
            ma = median([x[m] for x in a])
            mb = median([x[m] for x in b])
            rows[m] = {"base": ma, "new": mb, "change": (mb - ma) / ma if ma else None}
        out[wl] = rows
    return out
