"""End-to-end corpus curation — the capstone composition a training-data
user actually runs: quality gate → exact dedup → near-dup dedup →
deterministic mixture subsample, with per-stage survival accounting.

Every stage is one of the engine's verified primitives
(functions/text.py gates, fingerprint groupBy, operators/neardup, salted
hash sampling); this module only sequences them and keeps the funnel
counts. The composition preserves each stage's scale shape — nothing here
adds a shuffle beyond what the stages themselves own — and the whole
flow is deterministic: same corpus in, same corpus out, on any cluster
layout, which is the property that makes a 100 TB curation run auditable
and resumable.
"""

from __future__ import annotations

from contextlib import ExitStack
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sketches as S
from ..functions import text as X
from .neardup import dedup_corpus
from ..engine.pin import cached, pin as _pin, release


@dataclass
class CurationReport:
    """Per-stage survivor counts (the curation run's audit record)."""

    stages: list[tuple[str, int]] = field(default_factory=list)

    def add(self, stage: str, n: int) -> None:
        self.stages.append((stage, n))

    def as_dict(self) -> dict[str, int]:
        return dict(self.stages)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_punct_ratio: float = 0.30,
    near_dup_threshold: float = 0.8,
    sample_pct: int | None = None,
    report: CurationReport | None = None,
) -> DataFrame:
    """Run the standard curation funnel; returns the surviving corpus.

    Stages (each optional-ish by parameter):
      1. quality gate — token-count and punctuation-ratio thresholds
         (flag-level predicates from functions/text; narrow map).
      2. exact dedup — min-id survivor per content fingerprint (one
         shuffle on the 128-bit fp).
      3. near-dup dedup — MinHash-LSH pairs → components → min-id
         survivor (operators/neardup.dedup_corpus).
      4. optional deterministic subsample — salted-hash percent keep
         (reproducible; no RNG).

    With `report` provided, each counted stage is persisted BEFORE its
    count so the count is a genuine materialization the next stage reuses
    — not a throwaway re-execution of the whole upstream funnel — and the
    returned corpus is localCheckpoint'ed (eager) so every intermediate
    cache can be released before returning. Without `report`, the funnel
    stays fully lazy and nothing is cached.
    """
    with ExitStack() as caches:

        def staged(df: DataFrame, stage: str) -> DataFrame:
            if report is None:
                return df
            df = caches.enter_context(cached(df))
            report.add(stage, df.count())
            return df

        docs = staged(docs, "input")

        ok = (X.token_count(text_col) >= min_tokens) & (
            X.punct_ratio(text_col) <= max_punct_ratio
        )
        quality = staged(docs.filter(ok), "quality")

        fp = X.fingerprint(text_col)
        w_min = quality.groupBy(fp.alias("_fp")).agg(F.min(id_col).alias("_keep"))
        exact = staged(
            quality.join(w_min.select(F.col("_keep").alias(id_col)), id_col, "left_semi"),
            "exact_dedup",
        )

        deduped = staged(
            dedup_corpus(exact, id_col, text_col, threshold=near_dup_threshold),
            "near_dedup",
        )

        if sample_pct is not None:
            h = S.hash32(F.concat(F.lit("curate:"), F.col(id_col).cast("string"))) % 100
            deduped = staged(deduped.filter(h < sample_pct), f"sample_{sample_pct}pct")

        if report is None:
            return deduped
        # cut lineage off the stage caches, which the scope then releases
        out = deduped.transform(_pin)
    # the near-dup pair/label pins inside dedup_corpus need the LogicalRDD
    # release; dropping the caches does not free them (r4 verdict item 7)
    release(deduped)
    return out
