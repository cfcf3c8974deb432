"""Measure the bucket_cap star-form recall trade on a hot-bucket corpus.

r12 verdict item 1: `operators/neardup.py` caps hot LSH buckets by
degrading them to hub-star candidates and ARGUES the recall trade ("a
true duplicate cluster stays connected through its hub"); this probe
MEASURES it on the corpus shape real 100 TB pipelines see — boilerplate-
heavy text where one template family floods every band bucket it
touches.

Corpus: `dedup_scale_probe.synth_corpus` background (random 50-word docs,
1% planted near-dup pairs) with ``pct``% of docs replaced by a TEMPLATE
FAMILY — a fixed 60-word boilerplate with ``tier = doc_id % 4`` word
substitutions at positions keyed on the doc id. Tier 0 docs are exact
template copies; higher tiers drift. With 3-word shingles a swap kills
~3 shingles per side, so pairwise Jaccard falls with combined tier
(tier0-tier2 ≈ 0.81 ≥ 0.8 threshold, tier1-tier2 disjoint ≈ 0.73 < 0.8,
same-position tier pairs higher) — the family forms a hub-reachable core
PLUS genuine chain links between sibling variants, exactly the structure
where star candidates can drop pairs. Family docs share most minhash
rows with the template, so every band bucket the template occupies goes
hot (occupancy ~ family size, thousands of times over any sane cap).

For cap in (None, levels...) the probe mines verified pairs
(`near_dup_pairs(bucket_cap=cap)`), clusters them
(`assign_components`), and reports against the exact cap=None run:

  pairs          verified pairs mined (capped ⊆ exact by construction:
                 star candidates are a subset of the B² bucket pairs,
                 and verification is identical)
  pair_recall    |capped| / |exact|
  comps          duplicate components found
  surv_jacc      survivor-set agreement (Jaccard of the two corpora
                 kept after dedup_corpus semantics: min-id per
                 component survives, unclustered docs pass)
  extra_kept     docs the capped run keeps that exact dedup removes
                 (the recall loss expressed in corpus rows)
  wall_s         mine+cluster wall clock

Usage:
  python tools/bucket_cap_recall_probe.py [n_docs] [pct] [caps...]
                                          [--tiers N]
  (defaults: 60_000 docs, 10% boilerplate family, caps 16 64 256,
  4 drift tiers)

``--tiers 1`` makes the family ALL exact template copies — the
common-case boilerplate shape, where every member verifies against the
hub and the star form should lose nothing (the probe turns that claim
into a measurement).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

OUT_ROOT = Path("/tmp/end_to_end_azure_data_engineering_bucket_cap")

THRESHOLD = 0.8
TEMPLATE_WORDS = 60
TIERS = 4


def family_corpus(spark, n_docs: int, pct: int, tiers: int = TIERS):
    """synth_corpus background with pct% template-family docs."""
    from pyspark.sql import functions as F

    from dedup_scale_probe import synth_corpus

    base = synth_corpus(spark, n_docs)
    i = F.col("doc_id")
    # fixed template vocabulary, disjoint from synth_corpus's w### vocab
    template = [f"tpl{j:03d}" for j in range(TEMPLATE_WORDS)]
    tmpl = F.lit(template)
    tier = (i % tiers).cast("int")
    # swap positions keyed on (doc_id, slot): deterministic, partially
    # colliding across docs so some sibling pairs share positions (the
    # chain-link shape). Position range excludes the first 3 words so
    # every family doc keeps a common anchor shingle run.
    def swap_pos(slot):
        return (
            F.pmod(F.xxhash64(i, F.lit(slot)), TEMPLATE_WORDS - 4) + 4
        ).cast("int")

    def swap_word(slot):
        return F.concat(F.lit("var"), (F.pmod(F.xxhash64(i, F.lit(slot + 100)), 9999)).cast("string"))

    def swapper(slot):
        # closure factory, not a default-arg lambda: PySpark counts ALL
        # parameters (defaults included) when sizing the HOF lambda
        def f(w, j):
            return F.when(j == swap_pos(slot), swap_word(slot)).otherwise(w)

        return f

    words = tmpl
    for slot in range(tiers - 1):
        words = F.when(
            tier > slot, F.transform(words, swapper(slot))
        ).otherwise(words)
    fam_text = F.array_join(words, " ")
    return base.withColumn(
        "text",
        # family lives at doc_id%100 in [50, 50+pct): synth_corpus's
        # planted background near-dup pairs sit at %100 in {0, 1} and
        # must SURVIVE as the control — a capped run must find exactly
        # as many background components as the exact run
        F.when((i % 100 >= 50) & (i % 100 < 50 + pct), fam_text).otherwise(
            F.col("text")
        ),
    )


def mine(spark, docs, cap):
    """Mine+cluster at one cap. Returns (pairs_df, losers_set, n_pairs,
    n_comps, wall_s). Pair math stays in Spark (pair volume is
    collision-bound but can run to millions — never collected); only the
    LOSER id set (≈ family size + planted dups, thousands) comes to the
    driver, where the survivor-set comparisons are exact and cheap."""
    from pyspark.sql import functions as F

    from end_to_end_azure_data_engineering_spark.operators.neardup import (
        assign_components,
        near_dup_pairs,
    )

    t0 = time.perf_counter()
    pairs = near_dup_pairs(docs, "doc_id", "text", THRESHOLD, bucket_cap=cap)
    comps = assign_components(pairs)
    losers = {
        r.node
        for r in comps.filter(F.col("node") != F.col("label")).collect()
    }
    wall = time.perf_counter() - t0
    n_pairs = pairs.count()
    n_comps = comps.select("label").distinct().count()
    return pairs, losers, n_pairs, n_comps, wall


def main() -> int:
    argv = list(sys.argv[1:])
    tiers = TIERS
    if "--tiers" in argv:
        i = argv.index("--tiers")
        tiers = int(argv[i + 1])
        del argv[i : i + 2]
    n_docs = int(argv[0]) if len(argv) > 0 else 60_000
    pct = int(argv[1]) if len(argv) > 1 else 10
    caps = [int(c) for c in argv[2:]] or [16, 64, 256]

    from end_to_end_azure_data_engineering_spark.engine import get_spark

    spark = get_spark("bucket_cap_recall_probe")
    spark.sparkContext.setLogLevel("ERROR")

    corpus_path = OUT_ROOT / f"docs_{n_docs}_{pct}_t{tiers}"
    if not (corpus_path / "_SUCCESS").exists():
        family_corpus(spark, n_docs, pct, tiers).write.mode(
            "overwrite"
        ).parquet(str(corpus_path))
    docs = spark.read.parquet(str(corpus_path))
    n_family = docs.filter(
        ((docs.doc_id % 100) >= 50) & ((docs.doc_id % 100) < 50 + pct)
    ).count()
    print(
        f"corpus: {n_docs} docs, {n_family} in the template family "
        f"({pct}%, {tiers} tier(s)), threshold {THRESHOLD}, bands hot at "
        f"occupancy ~family-size >> every cap probed",
        flush=True,
    )

    from end_to_end_azure_data_engineering_spark.engine.pin import release

    print("mining EXACT (cap=None) ...", flush=True)
    exact_pairs, exact_losers, n_exact, exact_comps, exact_wall = mine(
        spark, docs, None
    )
    all_ids = set(range(n_docs))
    exact_surv = all_ids - exact_losers
    fam_ids = {d for d in all_ids if 50 <= d % 100 < 50 + pct}
    print(
        f"{'cap':>8} {'pairs':>10} {'pair_recall':>11} {'comps':>7} "
        f"{'surv_jacc':>9} {'extra_kept':>10} {'bg_mismatch':>11} {'wall_s':>7}"
    )
    print(
        f"{'None':>8} {n_exact:>10} {1.0:>11.4f} {exact_comps:>7} "
        f"{1.0:>9.4f} {0:>10} {0:>11} {exact_wall:>7.1f}",
        flush=True,
    )
    for cap in caps:
        pairs, losers, n_pairs, n_comps, wall = mine(spark, docs, cap)
        extras = pairs.join(exact_pairs, ["id_a", "id_b"], "left_anti").count()
        assert extras == 0, (
            "capped pairs must be a subset of exact pairs "
            f"(cap={cap}: {extras} extras)"
        )
        release(pairs)
        surv = all_ids - losers
        jacc = len(surv & exact_surv) / len(surv | exact_surv)
        extra_kept = len(surv - exact_surv)
        # control: dedup decisions OUTSIDE the family must be untouched
        # by the cap (background buckets never exceed it)
        bg_mismatch = len((losers ^ exact_losers) - fam_ids)
        recall = n_pairs / max(n_exact, 1)
        print(
            f"{cap:>8} {n_pairs:>10} {recall:>11.4f} {n_comps:>7} "
            f"{jacc:>9.4f} {extra_kept:>10} {bg_mismatch:>11} {wall:>7.1f}",
            flush=True,
        )
    release(exact_pairs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
