"""Frame materialization — the one module that pins, caches and frees a
frame.

Operators pin frames their downstream plan references repeatedly
(Catalyst plans DAG reuse as tree duplication — see the scan fan-out
fence) or that an iterative loop must cut lineage on (connected
components, k-means). Two Spark mechanisms exist and the right one is a
DEPLOYMENT property, not an operator property:

- ``localCheckpoint()``: blocks live on the executors that computed
  them; fastest (no extra write path), but the truncated lineage CANNOT
  be recomputed — any executor loss fails the job. Correct on
  ``local[*]`` (one process: losing the "executor" loses the driver
  anyway) and acceptable for short jobs on stable clusters.
- reliable ``checkpoint()``: blocks are written to the configured
  checkpoint directory (a shared filesystem at cluster scale) and
  survive executor loss — the right trade on a 1000-executor job where
  churn is ROUTINE over a multi-hour run; cleaned by the ContextCleaner
  when ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.

``pin`` keys off ``SparkContext.getCheckpointDir()``: a cluster
deployment that calls ``setCheckpointDir`` (standard practice — it is
also required before any reliable checkpoint) automatically upgrades
EVERY pin site in this package to the fault-tolerant tier, with no
operator code change. Without a dir (the local test/bench default)
every pin is a ``localCheckpoint``.

Each materialization has one owner that frees it:

- ``cached(df)`` scopes a ``persist()`` to a ``with`` block: the
  CacheManager entry is dropped on exit, also when the block raises
  (entries are keyed by logical plan and outlive the Python object);
- ``release(*dfs)`` frees the pinned blocks behind frames the caller
  pinned or received pinned, once nothing will read them again.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

__all__ = ["cached", "pin", "release"]

_log = logging.getLogger(__name__)


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and return the pinned frame: reliable
    ``checkpoint()`` when the SparkContext has a checkpoint dir
    configured, else ``localCheckpoint()``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the ``with`` block and unpersist it on exit.
    The cache fills on the block's first action, as a bare ``persist()``
    does; frames pinned inside the block stay valid after it."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def release(*dfs: DataFrame) -> None:
    """Free the block-manager storage behind the pinned frames in each
    frame's plan (near_dup_pairs / containment_pairs pair blocks,
    connected_components' final labels, any ``pin`` result).

    Pinned blocks otherwise live until the driver garbage-collects the
    Python object AND the ContextCleaner runs — in a long-lived session
    making repeated calls (the streaming dedup sink pins per micro-batch;
    curate_corpus per run) the lag re-creates the block-manager pressure
    the eager-release design exists to avoid. Walks the analyzed plan's
    leaves and unpersists every LogicalRDD (a pin's backing node); lazy
    scans are untouched. After release the frames must not be used
    again. A frame whose plan cannot be walked is logged and left to the
    ContextCleaner."""
    for df in dfs:
        try:
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getName().endswith("LogicalRDD"):
                    leaf.rdd().unpersist(False)
        except Exception:  # noqa: BLE001 — the ContextCleaner still frees it
            _log.warning(
                "release: could not free the pinned blocks of a frame; "
                "they wait for the ContextCleaner",
                exc_info=True,
            )
