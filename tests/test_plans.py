"""Plan-shape regression tests: the physical plans we designed for
100 TB must actually materialize on the local engine — broadcast hash
joins for dimension sides, predicate pushdown into parquet scans,
partition pruning on the day-partitioned fact, codegen coverage."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from greenplum_dwh_spark.plans import checks


def test_q3_broadcast_and_pushdown(spark, sf_dir):
    from greenplum_dwh_spark.operators.relational import q3_segment_revenue
    df = q3_segment_revenue(spark, sf_dir)
    assert checks.has_broadcast_join(df)
    # the mktsegment literal must reach the customer parquet scan
    assert "BUILDING" in checks.pushed_filters(df)
    # WholeStageCodegen wrappers only materialize in non-adaptive plans
    # (AQE inserts them at execution); toggle AQE off to assert coverage
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert checks.codegen_stage_count(
            q3_segment_revenue(spark, sf_dir)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q5_all_dims_broadcast(spark, sf_dir):
    from greenplum_dwh_spark.operators.relational import q5_nation_revenue
    plan = checks.physical_plan(q5_nation_revenue(spark, sf_dir))
    # lineitem⋈orders may merge-join; every dim join must broadcast
    assert plan.count("BroadcastHashJoin") >= 4


def test_mart_staging_broadcasts_dims_and_prunes_partitions(
        spark, tmp_path):
    from greenplum_dwh_spark.etl import normalize_transactions
    from greenplum_dwh_spark.mart.staging import mart_staging
    from greenplum_dwh_spark.sources import load_landing_file
    from greenplum_dwh_spark.warehouse import Warehouse
    from tests import bank_fixture as bf
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for p in bf.write_extracts(spark, str(tmp_path / "ex")):
        load_landing_file(wh, p)
        normalize_transactions(wh)
    stg = mart_staging(wh, "scd2")
    plan = checks.physical_plan(stg)
    assert plan.count("BroadcastHashJoin") == 4
    assert not checks.has_sort_merge_join(stg)
    # static partition pruning on the day-partitioned fact
    assert "trans_dt_day" in checks.partition_filters(stg)


def test_mart_staging_joins_a_dim_past_the_limit_by_sort_merge(
        spark, tmp_path, monkeypatch):
    """Each dim's join side is sized by its manifest row count times its
    projected row width.  With the broadcast limit just under the
    largest dim's size, that dim joins by sort-merge and the other
    three still broadcast."""
    from greenplum_dwh_spark import schemas, session
    from greenplum_dwh_spark.etl import normalize_transactions
    from greenplum_dwh_spark.mart.staging import (current_dims,
                                                  mart_staging,
                                                  project_dims)
    from greenplum_dwh_spark.sources import load_landing_file
    from greenplum_dwh_spark.warehouse import Warehouse
    from tests import bank_fixture as bf
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for p in bf.write_extracts(spark, str(tmp_path / "ex")):
        load_landing_file(wh, p)
        normalize_transactions(wh)
    dims = project_dims(current_dims(wh, "scd2"))
    size = {n: wh.row_count(schemas.DIMENSIONS[n]["hist"])
            * session.row_bytes(df) for n, df in dims.items()}
    big, second = sorted(size, key=size.get, reverse=True)[:2]
    assert size[big] > size[second]             # one dim alone is over
    monkeypatch.setattr(session, "BROADCAST_LIMIT_BYTES", size[second])
    plan = checks.physical_plan(mart_staging(wh, "scd2"))
    assert plan.count("BroadcastHashJoin") == 3
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 1
    key = {"terminals": "terminal_id", "cards": "card_num",
           "accounts": "account_num", "clients": "client_id"}[big]
    assert key in smj[0], (big, smj[0])


def test_range_join_rewrite_is_equi_not_bnlj(spark, sf_dir):
    """The aligned-bucket rewrite must plan as hash aggregate + equi
    join — NO BroadcastNestedLoopJoin (whose cost grows with the time
    span) — and must return exactly the theta-join result."""
    from greenplum_dwh_spark.operators.relational import (
        range_join_hour_buckets, range_join_tumbling_rewrite)
    rewrite = range_join_tumbling_rewrite(spark, sf_dir)
    plan = checks.physical_plan(rewrite)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    theta = range_join_hour_buckets(spark, sf_dir)
    assert rewrite.exceptAll(theta).count() == 0
    assert theta.exceptAll(rewrite).count() == 0


def test_dedup_hot_path_has_no_python_udf(spark, sf_dir):
    from greenplum_dwh_spark.operators.dedup import (dedup_minhash_lsh,
                                                     dedup_simhash)
    for q in (dedup_minhash_lsh, dedup_simhash):
        plan = checks.physical_plan(q(spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_jaccard_verify_broadcasts_set_index(spark, sf_dir):
    """The exact-jaccard verify must attach shingle arrays via a
    broadcast of the per-doc set index — a shuffle join here moves one
    array per candidate row (measured 16 GB at derived sf1)."""
    from greenplum_dwh_spark.operators.dedup import (dedup_char_jaccard,
                                                     dedup_jaccard_prefix,
                                                     dedup_minhash_lsh)
    for q in (dedup_jaccard_prefix, dedup_char_jaccard, dedup_minhash_lsh):
        df = q(spark, sf_dir)
        assert checks.has_broadcast_join(df), q.__name__
        plan = checks.physical_plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_embedding_lsh_is_banded_not_crossjoin(spark, sf_dir):
    """dedup_embedding_lsh is the bucketed 100 TB plan: its physical
    plan must contain NO cartesian/nested-loop product (the exact
    variant's shape) — candidates come from the band equi-join.  The
    SRP plane attach is a broadcast nested loop on a 32-row side, which
    is fine; a CartesianProduct is not."""
    from greenplum_dwh_spark.operators.similarity import dedup_embedding_lsh
    plan = checks.physical_plan(dedup_embedding_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bm25_topk_plans_as_take_ordered(spark, sf_dir):
    """Both top-k BM25 variants must plan the limit as a distributed
    TakeOrderedAndProject, not a single-partition global sort."""
    from greenplum_dwh_spark.operators.text_analysis import (
        text_bm25_topk, text_bm25_topk_ranks)
    for q in (text_bm25_topk, text_bm25_topk_ranks):
        assert "TakeOrderedAndProject" in checks.physical_plan(
            q(spark, sf_dir)), q.__name__


def test_ann_cosine_stays_jvm_side(spark, sf_dir):
    from greenplum_dwh_spark.operators.similarity import ann_cosine_topk
    plan = checks.physical_plan(ann_cosine_topk(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_corrupt_xlsx_raises(spark, tmp_path):
    """The lite xlsx reader fails loudly on a non-workbook file."""
    from greenplum_dwh_spark.sources.landing import read_extract
    fake = tmp_path / "x.xlsx"
    fake.write_bytes(b"PK\x03\x04 not a real workbook")
    with pytest.raises(Exception):
        read_extract(spark, str(fake))


def test_sample_is_map_only_no_shuffle(spark, sf_dir):
    """Deterministic hash sampling must be a pure scan+filter: zero
    shuffle exchanges, no Python."""
    from greenplum_dwh_spark.operators.training_data import (
        sample_hash_stratified)
    df = sample_hash_stratified(spark, sf_dir)
    assert checks.exchange_count(df) == 0
    assert not checks.has_python_udf(df)


def test_scrub_and_repetition_are_map_only(spark, sf_dir):
    from greenplum_dwh_spark.operators.text_analysis import text_repetition
    from greenplum_dwh_spark.operators.training_data import scrub_pii
    for df in (scrub_pii(spark, sf_dir), text_repetition(spark, sf_dir)):
        assert checks.exchange_count(df) == 0
        assert not checks.has_python_udf(df)


def test_argmax_is_single_shuffle_aggregate(spark, sf_dir):
    """max_by argmax: one exchange (partial agg map-side), no window,
    no join."""
    from greenplum_dwh_spark.operators.relational import (
        argmax_order_per_customer)
    df = argmax_order_per_customer(spark, sf_dir)
    plan = checks.physical_plan(df)
    assert checks.exchange_count(df) == 1
    assert "Window" not in plan and "Join" not in plan


def test_outlier_fences_broadcast_back(spark, sf_dir):
    """The per-group quantile fences are dimension-sized — the join
    back to events must broadcast, never shuffle the fact side."""
    from greenplum_dwh_spark.operators.timeseries import outlier_iqr_events
    df = outlier_iqr_events(spark, sf_dir)
    assert checks.has_broadcast_join(df)
    assert not checks.has_sort_merge_join(df)


def test_gapfill_no_cartesian_no_python(spark, sf_dir):
    """Spine generation must come from sequence+explode, not a
    calendar cross join; fill is a window, not a self-join chain."""
    from greenplum_dwh_spark.operators.timeseries import (
        gapfill_forward_fill)
    df = gapfill_forward_fill(spark, sf_dir)
    plan = checks.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan
    assert not checks.has_python_udf(df)


def test_fuzzy_pairs_join_is_blocked_equi(spark, sf_dir):
    """The fuzzy matcher must plan as an equi-join on the blocking key
    (lang, length bucket) with levenshtein only in the post-join
    filter — never a nested-loop all-pairs comparison."""
    from greenplum_dwh_spark.operators.training_data import fuzzy_doc_pairs
    df = fuzzy_doc_pairs(spark, sf_dir)
    plan = checks.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_unbroadcastable_join(spark, sf_dir):
    """When the dim side of a selective join is too big to broadcast
    (at 100 TB even filtered dims can be), Spark can still prune the
    fact side BEFORE the shuffle via a runtime bloom filter: a
    bloom_filter_agg on the build side, might_contain pushed onto the
    probe scan.  This test pins that the engine config allows the
    injection (it is the designed fallback for the broadcast-join
    discipline asserted elsewhere)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .select("l_orderkey", "l_quantity", "o_orderpriority"))
        plan = checks.physical_plan(j)
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pit_lookup_single_keyed_exchange_no_interval_join(spark, sf_dir):
    """The as-of carry must be the union-window plan: exactly one
    shuffle exchange (on custkey) and no nested-loop interval join;
    the fact-side order attach broadcasts."""
    from greenplum_dwh_spark.operators.timeseries import pit_lookup_orders
    df = pit_lookup_orders(spark, sf_dir)
    plan = checks.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert checks.exchange_count(df) == 1
    assert checks.has_broadcast_join(df)


def test_merge_upsert_is_anti_join_union(spark, sf_dir):
    """MERGE must compile to one anti join + union — no row-wise
    rewrite, no sort-merge of target against changeset."""
    from greenplum_dwh_spark.operators.reconcile import merge_upsert_orders
    plan = checks.physical_plan(merge_upsert_orders(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "Union" in plan
    assert "SortMergeJoin LeftAnti" not in plan  # broadcast, not SMJ


def test_rank_fusion_pools_are_take_ordered(spark, sf_dir):
    """Both source rankings must collapse to TakeOrderedAndProject
    pools (distributed partial top-k) before fusion — never a global
    sort of a corpus-sized ranking."""
    from greenplum_dwh_spark.operators.retrieval import rank_fusion_rrf
    plan = checks.physical_plan(rank_fusion_rrf(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 3  # lex, sem, fused


def test_profiles_use_take_ordered_heads(spark, sf_dir):
    from greenplum_dwh_spark.operators.quality import key_skew_profile
    from greenplum_dwh_spark.operators.retrieval import vocab_topk_coverage
    for fn in (key_skew_profile, vocab_topk_coverage):
        plan = checks.physical_plan(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        # the head selection replaces any global sort: no Sort node
        # (the tiny post-head window sorts ≤ head rows, driver-side
        # constant, and shows as Sort only inside that window stage)
        assert plan.count("Sort ") <= 1


def test_negative_sampling_group_limit_before_exchange(spark, sf_dir):
    """Spark's rank-limit pushdown must fire: a WindowGroupLimit
    below the exchange prunes candidates to top-K per anchor before
    any shuffle."""
    from greenplum_dwh_spark.operators.training_data import (
        contrastive_negatives)
    plan = checks.physical_plan(contrastive_negatives(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # anchors broadcast


def test_zorder_key_is_codegen_no_shuffle(spark, sf_dir):
    from greenplum_dwh_spark.operators.relational import zorder_keys_orders
    df = zorder_keys_orders(spark, sf_dir)
    assert checks.exchange_count(df) == 0
    assert not checks.has_python_udf(df)


def test_dup_ngram_fraction_plan_shape(spark, sf_dir):
    """Corpus-dup gram fraction: the scan must prune to (doc_id,
    text), the gram explode must be map-side (no shuffle of raw
    text), and every exchange must sit behind a partial aggregate —
    the raw gram multiset is combined per partition before it ever
    crosses the network."""
    from greenplum_dwh_spark.operators.text_analysis import (
        dup_ngram_fraction)
    df = dup_ngram_fraction(spark, sf_dir)
    plan = checks.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan
    assert "partial_count" in plan      # map-side combine pre-shuffle
    assert "partial_sum" in plan        # per-doc rollup combined too
    assert not checks.has_python_udf(df)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all(
        "doc_id:bigint,text:string" in ln for ln in scans)


def test_repeated_spans_plan_shape(spark, sf_dir):
    """Suffix-array repeated-span dedup: ONE scan (the side fan-out
    must be an explode, not a self-union that re-runs the whole
    upstream — the bug this pins), no single-partition exchange (the
    blocked window replaces the global suffix sort), the per-doc
    top-1 goes through WindowGroupLimit, and the scan prunes to
    (doc_id, text)."""
    from greenplum_dwh_spark.operators.dedup import dedup_repeated_spans
    df = dedup_repeated_spans(spark, sf_dir)
    plan = checks.physical_plan(df)
    assert plan.count("FileScan") == 1          # explode, not union
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan           # partial top-1
    assert not checks.has_python_udf(df)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all(
        "doc_id:bigint,text:string" in ln for ln in scans)


def test_image_phash_is_banded_single_python_stage(spark, sf_dir):
    """dedup_image_phash's plan: candidates come from the hamming-band
    equi-join (no cartesian/nested-loop product), and the ONLY Python
    stage is the Arrow dHash kernel — banding, candidate join and the
    xor/popcount verify all run JVM-side on the two int64 halves."""
    from greenplum_dwh_spark.operators.multimodal_ops import (
        dedup_image_phash)
    plan = checks.physical_plan(dedup_image_phash(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan          # no row-at-a-time UDF
    # the Arrow pack+dhash pass feeds a CACHED hash table — every
    # consumer (bands, both verify sides) reads the InMemory relation,
    # so the Python kernel executes once per corpus, not per consumer
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" in plan


_COUNTED = ("Exchange", "BroadcastHashJoin", "SortMergeJoin", "Window",
            "InMemoryTableScan")


def _run_plan_counts(df) -> tuple[tuple, tuple]:
    """(shuffle exchanges, BroadcastHashJoin, SortMergeJoin, Window,
    InMemoryTableScan) among the operators a run of ``df`` executes,
    then the same counts summed over the build plans of the caches it
    reads.  A cached table's build plan is an inner child of its scan,
    planned adaptively once when the cache fills; each distinct cache
    counts once, through its query stages and the caches it reads in
    turn."""
    jvm = df.sparkSession._jvm
    run = dict.fromkeys(_COUNTED, 0)
    builds = dict.fromkeys(_COUNTED, 0)
    seen: set[int] = set()
    stack = [(df._jdf.queryExecution().executedPlan().executedPlan(), run)]
    while stack:
        node, counts = stack.pop()
        name = node.nodeName()
        if name in counts:
            counts[name] += 1
        if name == "InMemoryTableScan":
            cached = node.relation().cacheBuilder().cachedPlan()
            key = jvm.System.identityHashCode(cached)
            if key not in seen:
                seen.add(key)
                stack.append((cached, builds))
        if name == "AdaptiveSparkPlan":
            stack.append((node.executedPlan(), counts))
            continue
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append((node.plan(), counts))
            continue
        kids = node.children()
        stack += [(kids.apply(i), counts) for i in range(kids.size())]
    return tuple(run.values()), tuple(builds.values())


def test_near_dup_plan_shapes_pinned(spark, sf_dir):
    """Pinned plan shapes of the banded and prefix-filtered near-dup
    queries at sf0.01: shuffle exchanges, join kinds, Window nodes and
    cached-table scans of the warm plan, and of the build plans of the
    caches it reads.  Each query runs once first, so its caches are
    materialized and the pin reads the plan every later run executes,
    whatever ran earlier in the session."""
    import os

    from greenplum_dwh_spark.operators import dedup
    from greenplum_dwh_spark.operators.multimodal_ops import (
        dedup_image_phash)
    from greenplum_dwh_spark.operators.similarity import (
        dedup_embedding_lsh)
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    shingles = (1, 0, 0, 0, 0)                 # the set-index cache
    prefix = (2, 1, 0, 1, 3)                   # the df table, the prefix index
    want = {dedup.dedup_simhash: ((3, 3, 0, 2, 4), shingles),
            dedup_image_phash: ((3, 3, 0, 2, 4), (0, 0, 0, 0, 0)),
            dedup.dedup_minhash_lsh: ((2, 2, 0, 1, 3), shingles),
            dedup.dedup_incremental: ((3, 3, 0, 2, 4), shingles),
            dedup.dedup_jaccard_prefix: ((0, 5, 0, 0, 6), prefix),
            dedup.dedup_char_jaccard: ((4, 9, 0, 1, 11), prefix),
            dedup.dedup_containment: ((0, 5, 0, 0, 6), prefix),
            dedup_embedding_lsh: ((2, 2, 0, 1, 0), (0, 0, 0, 0, 0))}
    for query, shape in want.items():
        query(spark, sf01).count()
        assert _run_plan_counts(query(spark, sf01)) == shape, query.__name__


def test_each_query_executes_one_plan(spark, sf_dir):
    """Queries whose join sides AQE used to choose at run time execute
    one plan: five cold runs (caches cleared before each) give one
    normalised executed-plan text per query, cache builds included.
    Run it after any change to a join."""
    import os

    from greenplum_dwh_spark.operators import dedup
    from greenplum_dwh_spark.operators.curation import (
        curation_funnel_counts)
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for query in (dedup.dedup_jaccard_prefix, dedup.dedup_incremental,
                  curation_funnel_counts):
        texts = set()
        for _ in range(5):
            spark.catalog.clearCache()
            df = query(spark, sf01)
            df.collect()
            texts.add(checks.executed_plan_text(df))
        assert len(texts) == 1, query.__name__
