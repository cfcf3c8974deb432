"""Lazy twins of eagerly-materialized query stages — plan-audit fence.

Several hot-path queries materialize their mining stage eagerly at
query-build time (``localCheckpoint`` releases corpus-sized caches
deterministically — see operators/neardup.near_dup_pairs). The plan the
audit tools see for those queries is just the checkpoint scan, so their
real shuffles (LSH band exchange, verification joins, the co-purchase
self-join) were invisible to the regression fence (r4 verdict item 2:
PLANS.md reported ``shuffles=0`` for minhash_containment_pairs and
incremental_components_merge).

This registry rebuilds each such stage as a LAZY plan (never executed —
only explained). ``tools/plan_audit.py`` prints one extra ``name:stage``
row per entry, and ``tests/test_plan_guards.py`` runs every rule over
these plans too, plus a banding-exchange presence check.

Keys are ``<query_name>:<stage>`` so audit output sorts next to the query
it belongs to. Each value takes (spark, sf_dir) like a query callable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load, spread


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load(spark, sf_dir, "documents"))


def _minhash_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near_dup_pairs' pre-checkpoint plan: sign -> band -> bucket-join ->
    Jaccard verify (the stage behind dedup_minhash_lsh and every
    dedup_corpus consumer)."""
    from ..operators.neardup import pairs_from_signatures, sign_corpus

    return pairs_from_signatures(
        sign_corpus(_docs(spark, sf_dir), "doc_id", "text"), threshold=0.2
    )


def _minhash_capped_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh_capped's pre-checkpoint plan: the exact miner's
    stages plus the hot-bucket occupancy split (one extra agg+join on
    the band key the candidate join already shuffles on) and the
    star-edge union (r13)."""
    from ..operators.neardup import pairs_from_signatures, sign_corpus

    return pairs_from_signatures(
        sign_corpus(_docs(spark, sf_dir), "doc_id", "text"),
        threshold=0.2,
        bucket_cap=1,
    )


def _containment_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.neardup import containment_pairs_lazy

    return containment_pairs_lazy(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.2
    )


def _incremental_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_components_merge's batch-vs-corpus mine: batch band rows
    joined against corpus band rows (O(batch x collisions))."""
    from ..operators.neardup import pairs_from_signatures, sign_corpus

    sig = sign_corpus(_docs(spark, sf_dir), "doc_id", "text")
    return pairs_from_signatures(
        sig, threshold=0.2, batch_ids=sig.select("_id").filter(F.col("_id") % 3 == 0)
    )


def _cc_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One connected-components propagation round, rebuilt lazily: the
    neighbor-min join, the pointer-doubling label-of-label hop, and the
    node-keyed min reduction — the per-iteration plan that the eager loop
    (operators/dedup.connected_components) localCheckpoints out of the
    audited query plan. The edge frame is a cheap lazy surrogate (in the
    real operator edges and labels are checkpointed once), so the audited
    plan shows the ROUND's own joins/exchanges, not a re-derivation of the
    mining pipeline per label reference."""
    pairs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("_n"), (F.col("doc_id") % 1000).alias("_m")
    )
    bidir = pairs.unionByName(
        pairs.select(F.col("_m").alias("_n"), F.col("_n").alias("_m"))
    )
    labels = (
        bidir.select(F.col("_n").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    nbr = bidir.join(labels.withColumnRenamed("node", "_m"), "_m").select(
        F.col("_n").alias("node"), "label"
    )
    hop = labels.join(
        labels.select(F.col("node").alias("label"), F.col("label").alias("_lol")),
        "label",
    ).select("node", F.col("_lol").alias("label"))
    return (
        labels.unionByName(nbr)
        .unionByName(hop)
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def _copurchase_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational_ext import copurchase_edge_frame_lazy

    li = spread(load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    return copurchase_edge_frame_lazy(li)


def _pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pagerank_copurchase's DISTRIBUTED 3-iteration chain (r14): the
    join+agg pairs and final degree join that the adaptive driver-local
    route takes over for support-bound graphs — the plan the fences walk
    for the 100 TB path, rebuilt over the lazy edge frame."""
    from .relational_ext import copurchase_edge_frame_lazy, pagerank_iterations_plan

    li = spread(load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    return pagerank_iterations_plan(copurchase_edge_frame_lazy(li))


def _eigen_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_top_eigen_power's pre-checkpoint moment-matrix plan
    (r13 opt): the Arrow int64 partial-Gram map + (i, j)-keyed sum that
    replaced the exploded self-join — visible here, not in the audited
    query plan, because the query pins the 64×64 result."""
    from .similarity_ops import eigen_gram_lazy

    return eigen_gram_lazy(_docs_embeddings(spark, sf_dir))


def _docs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load(spark, sf_dir, "embeddings"))


#: synthetic K×d codebook for twin plans — centroid VALUES never change
#: the plan shape (K and d do, and they match the registered queries)
def _twin_codebook() -> list[list[float]]:
    from ..functions.similarity import EMB_DIM

    return [[float(i) for _ in range(EMB_DIM)] for i in range(16)]


def _lloyd_step_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kmeans_lloyd_3iter's per-iteration plan (r14): the fused Arrow
    assignment+decimal-partials map and the K×d-group final aggregate —
    visible here, not in the audited query plan, because the query now
    pins its bounded final aggregate (and releases the corpus-scale
    staged pin) before returning. The staged frame is the same
    spread+project the query pins once."""
    from .similarity_ops import _lloyd_step

    staged = _docs_embeddings(spark, sf_dir).select(
        F.col("embedding").alias("_v")
    )
    return _lloyd_step(staged, _twin_codebook())


def _ivf_refined_probe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_refined_topk's index+probe plan over a shared staged frame
    (r14): Arrow cosine assignment reading the (already slot-spread)
    staged pin with NO extra fan-out exchange, broadcast probe join,
    per-probe top-k window — the stages the query's result pin hides."""
    from ..functions import similarity as V
    from .similarity_ops import ivf_index_frames, ivf_probe_topk

    ev = V.staged(_docs_embeddings(spark, sf_dir), "embedding", "_e").select(
        "vec_id", "_e_v", "_e_n"
    )
    assign, probe_cells = ivf_index_frames(
        spark, sf_dir, nprobe=2, k_cells=16,
        centroids=_twin_codebook(), staged_ev=ev,
    )
    return ivf_probe_topk(assign, probe_cells, topk=3)


def _spend_deciles_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer_spend_deciles' full plan with the spend-aggregate
    checkpoint disabled AND the adaptive small-frame switch pinned off
    (small_group_rows=0): upstream join+agg AND the sharded-rank stages
    (bounds aggregate, bucket counts, offsets, (group,bucket) window)
    all visible to the audit at any SF (r8; adaptive r9)."""
    from .relational_ext import customer_spend_deciles_plan

    return customer_spend_deciles_plan(
        spark, sf_dir, materialize=False, small_group_rows=0
    )


def _order_value_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_value_distribution's full lazy plan (see above)."""
    from .relational_ext import order_value_distribution_plan

    return order_value_distribution_plan(
        spark, sf_dir, materialize=False, small_group_rows=0
    )


def _gini_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_activity_gini's full lazy plan: the per-user events aggregate
    AND the sharded GLOBAL rank stages (one-row bounds crossJoin, bucket
    counts, ≤num_buckets-row offsets cumsum, bucket-keyed window)."""
    from .relational_ext import user_activity_gini_plan

    return user_activity_gini_plan(
        spark, sf_dir, materialize=False, small_group_rows=0
    )


def _pareto_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """revenue_pareto_curve's full lazy plan (sharded global rank over the
    per-part revenue reduction, see above)."""
    from .relational_ext import revenue_pareto_curve_plan

    return revenue_pareto_curve_plan(
        spark, sf_dir, materialize=False, small_group_rows=0
    )


def _supplier_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier_percentile_ranks' full lazy plan with the sharded
    construction pinned on (r10 verdict item 4: previously its 100 TB
    shape was audited only via the other :rank twins)."""
    from .relational_ext import supplier_percentile_ranks_plan

    return supplier_percentile_ranks_plan(spark, sf_dir, small_group_rows=0)


def _quality_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_quantile_normalize's full lazy plan, sharded path pinned
    (r10 verdict item 4 — same rationale as above)."""
    from .training_ops import quality_quantile_normalize_plan

    return quality_quantile_normalize_plan(spark, sf_dir, small_group_rows=0)


def _tie_ranks_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part_size_tie_ranks' full lazy plan: the outer sharded rank, the
    tie-class min-rn aggregate, and the class frame's recursive sharded
    numbering — all stages the eager pins hide from the audited query."""
    from .relational_ext import part_size_tie_ranks_plan

    return part_size_tie_ranks_plan(
        spark, sf_dir, materialize=False, small_group_rows=0
    )


def _token_quartiles_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_length_quartiles' full lazy plan, sharded path pinned: the
    rank input sits above a Generate (posexplode), so at real SF the
    zero-job proof declines and the probe routes to the sharded
    construction with the doc_id tiebreaker FOLD engaged on the
    ~15-distinct token-length key — this twin keeps that exact shape
    under the window/broadcast/scan fences.

    small_group_rows=1 rather than 0 (r10 review): =0 skips the probe
    entirely, and without the probe's (val, tiebreaker) bounds the fold
    can never engage — the audited plan would bucket on the RAW tok_len,
    a different shape from the one production takes at real SF. =1 runs
    the probe (every group is bigger than one row, so the sharded path
    is still forced) and the folded bucketing value is what the fences
    walk. Twin construction therefore runs the probe's aggregate job —
    the only lazy twin that isn't construction-job-free, accepted for
    shape fidelity."""
    from .text_ops import token_length_quartiles_plan

    return token_length_quartiles_plan(spark, sf_dir, small_group_rows=1)


def lazy_stages() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_minhash_lsh:mine": _minhash_mine,
        "dedup_minhash_lsh_capped:mine": _minhash_capped_mine,
        "minhash_containment_pairs:mine": _containment_mine,
        "incremental_components_merge:mine": _incremental_mine,
        "pagerank_copurchase:mine": _copurchase_mine,
        "pagerank_copurchase:iter": _pagerank_iter,
        "dedup_connected_components:round": _cc_round,
        "embedding_top_eigen_power:gram": _eigen_gram,
        "kmeans_lloyd_3iter:step": _lloyd_step_plan,
        "ann_ivf_refined_topk:probe": _ivf_refined_probe_plan,
        "customer_spend_deciles:rank": _spend_deciles_rank,
        "order_value_distribution:rank": _order_value_rank,
        "user_activity_gini:rank": _gini_rank,
        "revenue_pareto_curve:rank": _pareto_rank,
        "part_size_tie_ranks:rank": _tie_ranks_rank,
        "supplier_percentile_ranks:rank": _supplier_pct_rank,
        "quality_quantile_normalize:rank": _quality_quantile_rank,
        "token_length_quartiles:rank": _token_quartiles_rank,
    }
