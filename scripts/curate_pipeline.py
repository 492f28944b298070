"""End-to-end corpus-curation pipeline demo: the full chain a
training-data team runs between a raw crawl and tokenizer-ready
shards, composed from the operator library —

    exact dedup → near-dup cluster + keep-best → repeated-span
    dedup → benchmark decontamination → corpus-duplication
    (dup-n-gram) filter → LM quality filter → train/holdout split →
    context-window chunking → shard assignment

Each stage prints its row count so the funnel is visible; the stages
are the same tested operators the driver contract exposes (every one
oracle-checked individually), demonstrated here composing on shared
DataFrames within one Spark plan space.

Usage: python scripts/curate_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def run(spark, sf_dir: str) -> dict:
    from greenplum_dwh_spark.operators.curation import (chunk_docs,
                                                        shard_order)
    from greenplum_dwh_spark.operators.dedup import (exact_dedup,
                                                     keep_best_per_cluster)
    from greenplum_dwh_spark.sources.tpch import Tables

    docs = Tables(spark, sf_dir).documents
    stats = {"raw_docs": docs.count()}

    # 1. exact dedup: keep one doc per distinct text
    reps = exact_dedup(docs).select(
        F.col("rep_doc_id").alias("doc_id"))
    docs = docs.join(reps, "doc_id")
    stats["after_exact_dedup"] = docs.count()

    # 2. near-dup clustering + longest-representative survivor policy
    kept = keep_best_per_cluster(docs).select(
        F.col("keep_doc_id").alias("doc_id"))
    docs = docs.join(kept, "doc_id")
    stats["after_neardup_keep_best"] = docs.count()

    # 2b. repeated-span dedup (Lee et al. 2022 policy, doc-level):
    # docs sharing a >= 15-token contiguous run are partial template
    # copies that survive whole-doc near-dup (jaccard over the FULL
    # doc stays low when only a long run is shared).  Keep one doc
    # per distinct long span (min doc_id), drop the rest.  On this
    # synthetic corpus whole-doc near-dedup subsumes the stage
    # (survivors' longest shared run is 5 tokens — the stage firing
    # on nothing here is the upstream stages working); real crawls
    # carry license headers / navboxes that only this stage catches.
    from greenplum_dwh_spark.operators.dedup import (
        drop_repeated_span_dups)
    docs = drop_repeated_span_dups(docs, min_len=15)
    stats["after_repeated_span_dedup"] = docs.count()

    # 3. benchmark decontamination: drop docs overlapping the eval
    # slice (doc_id % 97 == 0 stands in for the benchmark suite)
    from greenplum_dwh_spark.functions.hashing import explode_word_ngrams
    from greenplum_dwh_spark.operators.curation import DECON_N
    grams = (docs.select("doc_id", F.split("text", " ").alias("t"))
             .select("doc_id",
                     explode_word_ngrams("t", DECON_N).alias("g")))
    ev = (grams.filter(F.col("doc_id") % 97 == 0)
          .select("g").distinct())
    contaminated = (grams.filter(F.col("doc_id") % 97 != 0)
                    .join(F.broadcast(ev), "g")
                    .select("doc_id").distinct())
    docs = (docs.filter(F.col("doc_id") % 97 != 0)
            .join(contaminated, "doc_id", "left_anti"))
    stats["after_decontamination"] = docs.count()

    # 3b. corpus-duplication filter (the Gopher duplicated-n-gram
    # rule, cross-document form): drop the most-duplicated tail —
    # docs whose 3-gram mass is overwhelmingly already present in
    # other surviving docs (template/boilerplate copies that survive
    # exact+near dedup because no single doc matches them whole).
    # Quantile cut from the exact distribution, same discipline as
    # the LM stage; short docs have no mass row and are KEPT.
    from greenplum_dwh_spark.operators.text_analysis import (
        dup_ngram_mass)
    held: list = []
    mass = dup_ngram_mass(docs, caches=held)
    dup_cut = mass.agg(F.expr("percentile(dup_bps, 0.98)")).first()[0]
    if dup_cut is not None:
        # materialize the tiny id cut (>98th-pct tail) eagerly, so the
        # stage's corpus-sized (doc, gram) cache can be RELEASED here
        # instead of riding docs' lineage — and being re-pinned —
        # through every later stage's action
        worst = (mass.filter(F.col("dup_bps") > dup_cut)
                 .select("doc_id").localCheckpoint())
        docs = docs.join(worst, "doc_id", "left_anti")
    stats["after_dup_gram_filter"] = docs.count()
    for c in held:
        c.unpersist()

    # 3c. LM quality filter (the CCNet step): score survivors under
    # the bigram LM built FROM the survivors, drop the lowest-scoring
    # 5% tail (threshold from the exact score distribution).  Docs too
    # short to produce a bigram have no score row — they are KEPT
    # (anti-join on the scored tail, never an inner join on the scored
    # set), and an empty score table (all-short corpus → cut is NULL)
    # makes the stage a no-op instead of dropping everything.
    from greenplum_dwh_spark.operators.curation import lm_score
    scores = lm_score(docs)
    cut = scores.agg(
        F.expr("percentile(lm_score_avg, 0.05)")).first()[0]
    if cut is not None:
        tail = (scores.filter(F.col("lm_score_avg") < cut)
                .select("doc_id"))
        docs = docs.join(tail, "doc_id", "left_anti")
    stats["after_lm_quality_filter"] = docs.count()

    # 4. reproducible split: chunk/shard only the train partition
    from greenplum_dwh_spark.functions.hashing import md5_bucket
    train = docs.filter(md5_bucket(F.col("doc_id"), 10000) < 9800)
    stats["train_docs"] = train.count()

    # 5. context-window chunking → 6. shard assignment
    chunks = chunk_docs(train)
    stats["chunks"] = chunks.count()
    shards = shard_order(train)
    stats["shards"] = shards.select("shard").distinct().count()

    # 7. batching layout check on the surviving train docs: exact
    # padding waste of arrival-order vs length-sorted batches
    from greenplum_dwh_spark.operators.packing import padding_waste
    waste = {r["strategy"]: r["waste_tokens"]
             for r in padding_waste(train).collect()}
    stats["padding_waste_arrival"] = waste["arrival"]
    stats["padding_waste_sorted"] = waste["length_sorted"]
    return stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from greenplum_dwh_spark.session import get_spark
    spark = get_spark("curate", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in run(spark, sf_dir).items():
        print(f"{k:28s} {v}")


if __name__ == "__main__":
    main()
