"""Physical-plan contracts — the 100 TB design assertions.

Parity tests prove correctness at sf0.01; these prove the PLANS are the
ones that survive a 1000-executor scale-up: dims broadcast, filters reach
the parquet scan, pipelines don't shuffle more than designed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.builders import builder  # noqa: E402
from retail_datawarehouse_spark.plans import (
    broadcast_join_count,
    pushed_filters,
    shuffle_count,
)
from retail_datawarehouse_spark.registry import catalog
from retail_datawarehouse_spark.sources.readers import load_table


def test_fact_build_broadcasts_all_dims(spark, sf_dir):
    """J2: every dim lookup in the fact load must be a broadcast-hash
    join — the fact side must never shuffle for key resolution."""
    fact = builder("q_fact_sales")(spark, sf_dir)
    assert broadcast_join_count(fact) >= 3


def test_q52_broadcasts_product_dim(spark, sf_dir):
    q52 = builder("q52_top10_products")(spark, sf_dir)
    assert broadcast_join_count(q52) >= 1


def test_q52_plans_top_k_not_global_sort(spark, sf_dir):
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    q52 = builder("q52_top10_products")(spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(q52)


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    pf = pushed_filters(df)
    assert any("l_quantity" in f for f in pf), pf


def test_column_pruning_reaches_read_schema(spark, sf_dir):
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    li = load_table(spark, sf_dir, "lineitem")
    plan = formatted_plan(li.select("l_orderkey"))
    assert "l_extendedprice" not in plan  # unreferenced columns not scanned


def test_clean_pipeline_single_shuffle(spark, sf_dir):
    """The cleaning ETL's only exchange comes from collision removal
    (SURVEY.md §3.1); row-level stages stay pipelined. Joins are
    broadcasts; allow the aggregate + anti-join exchanges only."""
    q = builder("q_etl_collision_removal")(spark, sf_dir)
    assert shuffle_count(q) <= 2


def test_snapshot_window_formulation_shuffles(spark, sf_dir):
    """Snapshot build: monthly agg + window = bounded shuffles (not a
    per-month re-scan). Whole-stage codegen must cover the pipeline."""
    snap = builder("q_fact_monthly_snapshot")(spark, sf_dir)
    # monthly agg (2-phase = 1 exchange), months-distinct (1), window (1),
    # +1 slack for AQE re-plans — NOT one scan per month like the
    # reference's cross-join formulation would need.
    assert shuffle_count(snap) <= 4


def test_smart_keys_no_shuffle(spark, sf_dir):
    q = builder("q_etl_smart_keys")(spark, sf_dir)
    assert shuffle_count(q) == 0


def test_rollup_cube_single_expand_pass(spark, sf_dir):
    """Rollup/cube compute every grouping set in ONE Expand+aggregate
    pass (a single shuffle), never one groupBy per level; dim joins stay
    broadcast."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    for name in ("q_rollup_brand_type_revenue", "q_cube_segment_region"):
        df = builder(name)(spark, sf_dir)
        assert "Expand" in formatted_plan(df), name
        assert shuffle_count(df) == 1, name
        assert broadcast_join_count(df) >= 1, name


def test_pivot_is_one_pass(spark, sf_dir):
    """Declared-values pivot with counts + totals riding the same pivot:
    Spark's canonical pivot plan is pre-aggregate → pivotfirst (two
    exchanges, the second carrying only (priority,status)-level
    aggregate rows) — crucially NO join of separately-aggregated
    DataFrames and no value-discovery scan."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    df = builder("q_pivot_status_by_priority")(spark, sf_dir)
    assert shuffle_count(df) <= 2
    assert "Join" not in formatted_plan(df)


def test_asof_join_single_shuffle_no_range_join(spark, sf_dir):
    """The as-of join must use the union-tag + window formulation: one
    exchange on user_id and NO join operator at all — a naive range
    join would explode quadratically per user at 100 TB."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    df = builder("q_asof_lasttouch_attribution")(spark, sf_dir)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """Per-group top-k must plan WindowGroupLimit (per-partition rank
    cutoff before the final window) — no group fully sorted/materialized."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    df = builder("q_topk_parts_per_brand")(spark, sf_dir)
    assert "WindowGroupLimit" in formatted_plan(df)


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The binned range join must plan as a hash equi-join on the bin
    id (broadcast here; shuffle-partitioned when the interval side is
    big) with the range predicate as a residual filter — NEVER a
    BroadcastNestedLoopJoin/CartesianProduct, which is what a raw theta
    join would give and what dies when the interval side grows."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    df = builder("q_range_join_price_bands")(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """Batch sessionization: gap-lag, running session counter, and the
    per-session aggregate all ride ONE exchange on user_id — the sort
    order is reused across both window passes and the final aggregate
    is partial-merged on the same keys."""
    df = builder("q_sessionize_batch")(spark, sf_dir)
    assert shuffle_count(df) <= 2  # user_id window + session-key agg


def test_rank_suite_single_window_sort(spark, sf_dir):
    """All four rank flavors (dense_rank/percent_rank/cume_dist/ntile)
    share one window spec → one exchange, one sort."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    df = builder("q_window_rank_suite")(spark, sf_dir)
    assert shuffle_count(df) == 1
    assert formatted_plan(df).count("(4) Sort") <= 1  # not per-function sorts


def test_merge_upsert_plans_single_join(spark, sf_dir):
    """The MERGE formulation is exactly one full-outer join on the key;
    action derivation is a projection, not extra joins/scans."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    df = builder("q_merge_upsert_customers")(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Join") >= 1
    assert "FullOuter" in plan


def test_scd2_merge_close_pass_broadcasts_the_change_batch(spark, sf_dir):
    """The SCD2 merge's close-out pass must be a BroadcastHashJoin with
    the CHANGE BATCH as the broadcast side — at 100 TB the dim is the
    big side and must never re-shuffle just to find out which current
    versions a nightly batch closes. The only sort-merge join allowed
    is the insert pass (change-preserved, tiny left side)."""
    from retail_datawarehouse_spark.dims.scd2 import (
        _scd2_customer_merge_changes,
        _scd2_customer_versions,
        scd2_merge_batch,
    )
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    dim = _scd2_customer_versions(spark, sf_dir).drop("entity")
    changes = _scd2_customer_merge_changes(
        spark, sf_dir, dim.filter(F.col("is_current"))
    )
    plan = formatted_plan(scd2_merge_batch(dim, changes))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert plan.count("SortMergeJoin") <= 1, plan[:2000]


def test_ivf_candidate_join_is_hash_on_cell(spark, sf_dir, tmp_path):
    """The IVF search join (probes × inverted file) must be a hash
    equi-join on the cell id. The only nested-loop joins allowed are
    the K-row centroid scoring cross joins — candidate scoring must
    never nested-loop over the corpus. Pinned on a float query of a
    stored fixture index (the suite's 'ivf' serving configuration)."""
    from tests.builders import ann_vectors

    from retail_datawarehouse_spark.operators.ann_index import (
        query_ivf_index,
        store_ivf_index,
    )
    from retail_datawarehouse_spark.operators.similarity import IVF_NPROBE
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    corpus, queries = ann_vectors(spark, sf_dir)
    idx = str(tmp_path / "ivf")
    store_ivf_index(corpus, idx, cells="fixture")
    df = query_ivf_index(queries, idx, nprobe=IVF_NPROBE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan


def test_shard_and_pack_single_shuffle(spark, sf_dir):
    """Corpus sharding and sequence packing each ride exactly ONE
    exchange (the per-shard hash partition); shard assignment itself is
    a narrow projection, and packing's running sum reuses the same sort
    the position window needs."""
    shard = builder("q_corpus_shard")(spark, sf_dir)
    pack = builder("q_pack_sequences")(spark, sf_dir)
    assert shuffle_count(shard) == 1
    assert shuffle_count(pack) == 1


def test_pack_sequences_layout_invariants(spark, sf_dir):
    """Packing layout is a true concatenation: offsets stay inside the
    budget, and each doc starts exactly where the previous one ended
    (seq_id*budget + seq_offset is cumulative n_tokens within shard)."""
    from retail_datawarehouse_spark.operators.sampling import PACK_TOKEN_BUDGET

    rows = (
        catalog()["q_pack_sequences"]
        .builder(spark, sf_dir)
        .orderBy("shard", "seq_id", "seq_offset")
        .collect()
    )
    assert rows and all(r.seq_offset < PACK_TOKEN_BUDGET for r in rows)
    start = {}
    for r in rows:
        expect = start.get(r.shard, 0)
        assert r.seq_id * PACK_TOKEN_BUDGET + r.seq_offset == expect, r
        start[r.shard] = expect + r.n_tokens


def test_runtime_bloom_filter_reduces_unbroadcastable_join(spark, sf_dir):
    """The 100 TB fallback when a filtered dim is too big to broadcast:
    Catalyst injects a runtime bloom filter — the dim side aggregates a
    bloom_filter_agg, and the fact side probes might_contain BEFORE its
    shuffle, so the join exchange moves only rows that can match. We
    pin that the injection fires on a selective dim filter once
    broadcast is off (thresholds lowered to make sf-scale data
    eligible; on the real cluster the defaults govern)."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem")
        pt = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
        plan = formatted_plan(
            li.join(pt, li.l_partkey == pt.p_partkey).select("l_orderkey", "p_brand")
        )
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_text_repetition_is_map_only(spark, sf_dir):
    """Trigram repetition scoring must stay a map-only pass (array HOFs
    per row, zero exchanges) — the explode+groupBy formulation would
    shuffle the entire trigram stream at 100 TB for a per-row answer."""
    q = builder("q_text_metrics")(spark, sf_dir)
    assert shuffle_count(q) == 0


def test_salient_terms_broadcasts_df_and_limits_groups(spark, sf_dir):
    """The vocabulary-sized df relation joins back as a broadcast (the
    tf stream never reshuffles on token), and per-doc top-k plans
    WindowGroupLimit instead of fully sorting each doc's terms."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    from retail_datawarehouse_spark.operators.textual import salient_terms_frame
    from retail_datawarehouse_spark.sources.readers import load_table as _lt

    q = salient_terms_frame(_lt(spark, sf_dir, "documents"))
    plan = formatted_plan(q)
    assert broadcast_join_count(q) >= 1
    assert "WindowGroupLimit" in plan


def test_funnel_single_shuffle(spark, sf_dir):
    """The funnel's window + conditional aggregate share one user_id
    exchange — the aggregate rides the window's partitioning."""
    q = builder("q_funnel_view_purchase")(spark, sf_dir)
    assert shuffle_count(q) == 1


def test_decontaminate_is_broadcast_anti_no_corpus_shuffle(spark, sf_dir):
    """Decontamination must probe the (tiny) eval fingerprint set as a
    broadcast anti-join — the corpus side scans once and never
    exchanges. The eval-side distinct may shuffle its own (tiny)
    relation; the corpus pipeline stays map-only."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    q = builder("q_decontaminate_suite")(spark, sf_dir)
    plan = formatted_plan(q)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the ngram part's eval-gram probe must also be broadcast (inner)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_mix_weighted_sample_is_map_only(spark, sf_dir):
    """Weighted mixing is a row-local hash predicate — no exchange."""
    q = builder("q_mix_weighted_sample")(spark, sf_dir)
    assert shuffle_count(q) == 0


def test_embedding_dedup_is_bucket_equi_join(spark, sf_dir):
    """Both embedding near-dup candidate generators must pair via an
    EQUI-join (bucket id / cell id) — never the all-pairs
    BroadcastNestedLoop that a vec_a < vec_b theta join would plan
    (round-1 verdict item #4). The LSH part must plan zero nested
    loops; the sem part's only permitted nested-loop nodes are its two
    1-ROW packed-centroid broadcasts (the map-side argmax shape), so
    any regression to an N×M pair comparison still fails here."""
    import re

    from retail_datawarehouse_spark.operators.similarity import (
        _injected_dup_corpus,
        lsh_dup_pairs,
        semdedup_pairs,
    )
    from retail_datawarehouse_spark.plans.explain import formatted_plan
    from retail_datawarehouse_spark.sources.readers import load_table

    corpus = _injected_dup_corpus(load_table(spark, sf_dir, "embeddings"))
    lsh_plan = formatted_plan(lsh_dup_pairs(corpus))
    assert "BroadcastNestedLoopJoin" not in lsh_plan, lsh_plan
    assert "CartesianProduct" not in lsh_plan, lsh_plan

    sem_plan = formatted_plan(semdedup_pairs(corpus))
    assert "CartesianProduct" not in sem_plan, sem_plan
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", sem_plan))
    # two logical 1-row pack broadcasts (seed pack, centroid pack); the
    # centroid pack's lineage is replayed on both self-join sides, so
    # up to 4 plan NODES — every one an N×1 against a single packed row
    assert n_bnlj <= 4, sem_plan
    # the pair join itself hashes on the cell id (keys are printed on
    # their own line in the formatted plan)
    assert re.search(
        r"\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", sem_plan
    ), sem_plan
    assert re.search(r"Left keys \[1\]: \[cell#", sem_plan), sem_plan


def test_hot_shingle_cap_bounds_join_fanout(spark):
    """A planted stop-shingle shared by 100 docs must not explode the
    inverted-index self-join: uncapped it contributes 100·99/2 pairs,
    capped it contributes none (round-1 verdict item #3). The cap drops
    the shingle from the REPRESENTATION (index + sizes alike), keeping
    Jaccard an honest set similarity over the capped sets."""
    from retail_datawarehouse_spark.operators.dedup import drop_hot_shingles

    rows = [(i, s) for i in range(100) for s in (f"uniq_{i}", "STOP")]
    sh = spark.createDataFrame(rows, "doc_id long, sh string")

    def pair_count(rel):
        a = rel.withColumnsRenamed({"doc_id": "doc_a"})
        b = rel.withColumnsRenamed({"doc_id": "doc_b"})
        return (
            a.join(b, "sh").filter(F.col("doc_a") < F.col("doc_b")).count()
        )

    assert pair_count(sh) == 100 * 99 // 2
    capped = drop_hot_shingles(sh, key="sh", max_df=10)
    assert capped.filter(F.col("sh") == "STOP").count() == 0
    assert capped.count() == 100  # every unique shingle survives
    assert pair_count(capped) == 0


def test_snapshot_append_reads_one_month_of_orders(spark, sf_dir):
    """The incremental append's new-month aggregate must reach the
    orders scan as pushed RANGE predicates on o_orderdate (partition
    pruning once the fact is month-partitioned) — the whole point of
    the incremental form is never re-scanning history."""
    import datetime

    from retail_datawarehouse_spark.facts.snapshot import (
        append_snapshot_month,
        build_monthly_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    new_month = datetime.date(1998, 8, 1)
    prior = build_monthly_snapshot(
        orders.filter(F.col("o_orderdate") < F.lit(new_month)), customer
    )
    appended = append_snapshot_month(
        prior, datetime.date(1998, 7, 1), orders, customer, new_month
    )
    plan = appended._jdf.queryExecution().toString()
    assert "1998-08-01" in plan  # range lower bound reaches the scan
    # the appended branch scans orders with BOTH range bounds pushed
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan[-3000:]
    assert "LessThan(o_orderdate" in plan, plan[-3000:]


def test_pii_frame_is_map_only(spark, sf_dir):
    """The PII detect+redact pass must be a single map-only projection
    (injection, three regexp counts, full redaction chain, and the
    per-type explode are all row-local) — zero exchanges, same
    discipline as q_text_metrics."""
    from retail_datawarehouse_spark.operators.textual import pii_frame
    from retail_datawarehouse_spark.sources.readers import load_table

    q = pii_frame(load_table(spark, sf_dir, "documents"))
    assert shuffle_count(q) == 0


def test_new_suite_parts_bounded_shuffles(spark, sf_dir):
    """Round-3 part additions keep their entries shuffle-bounded:
    q_dedup_exact = doc aggregate (1) + span countDistinct (2-phase, 2);
    q_decontaminate_suite = two tiny eval-side distincts + the
    candidate-scoped shared-gram countDistinct (2-phase) — the corpus
    side shuffles only rows that already matched the broadcast
    eval-gram probe."""
    assert shuffle_count(builder("q_dedup_exact")(spark, sf_dir)) <= 3
    assert shuffle_count(builder("q_decontaminate_suite")(spark, sf_dir)) <= 4


def test_entity_resolution_blocked_join_no_corpus_shuffle(spark, sf_dir):
    """The fuzzy ER join must be a hash equi-join on the BLOCKING key
    with the dirty batch broadcast: zero shuffle Exchanges (the corpus
    side never moves) and no BroadcastNestedLoopJoin (the all-pairs
    levenshtein cross join this formulation exists to avoid)."""
    from retail_datawarehouse_spark.operators.dedup import entity_resolution_frame

    from retail_datawarehouse_spark.plans.explain import formatted_plan

    df = entity_resolution_frame(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert shuffle_count(df) == 0, plan


# Queries whose nested-loop joins are DELIBERATE, documented shapes:
# the snapshot family's F6 spine densification is a cross join of two
# SMALL broadcastable sides (customers × months — the reference's own
# spec, with the incremental append as the scale path), and the ANN
# suite's exact branch is the labeled brute-force baseline
# (crossJoin(broadcast(queries)) — LSH/IVF are the scale paths).
# q_text_mining's BM25 part rides a 1-ROW corpus-stats frame in-plan
# via crossJoin(broadcast(stats)) — the same broadcast-bounds shape as
# the incremental snapshot (N×1, not N×M). q_dedup_embedding_cosine's
# sem part scores packed centroids via two 1-ROW broadcast frames (the
# map-side argmax shape); its pair join is pinned as a cell equi-join
# by test_embedding_dedup_is_bucket_equi_join. q_stream_joins_stateful's
# outer part carries the watermark emission cutoff as a 1-row bounds
# broadcast (max event time − delay), same N×1 shape. q_sketch_suite's
# hh part broadcasts the 1-row corpus token total for the θ·N cuts.
# q_dedup_components (r6): PageRank's dangling-mass redistribution
# crossJoins TWO 1-row broadcast frames per round (the node count N and
# the round's dangling sum ds) — the same N×1 bounds shape; the link
# contribution join stays a hash equi-join on the vertex key.
# q_etl_audit_metrics (r6): the drift panel attaches (n_ref, n_cur)
# totals to the key/bin count frames as a 1-row broadcast cross join
# (operators/drift.py _with_totals) — N×1 again, where N is key/bin
# cardinality, not data.
NESTED_LOOP_ALLOWLIST = {
    "q55_snapshot_lifetime_read",
    "q_etl_audit_metrics",
    "q_ann_topk_suite",
    "q_dedup_components",
    "q_dedup_embedding_cosine",
    # r10: the NCM classifier's prototype table rides a 1-row in-plan
    # broadcast (array of L (label, centroid) structs) cross-joined
    # onto the test split — the same bounds-frame class as q55/audit.
    "q_embedding_suite",
    "q_fact_monthly_snapshot",
    "q_sketch_suite",
    "q_snapshot_incremental_mom",
    "q_stream_joins_stateful",
    "q_text_mining",
}


def test_no_unintended_nested_loop_join_in_catalog(spark, sf_dir):
    """Blanket plan canary over ALL 50 catalog entries: any
    BroadcastNestedLoopJoin or CartesianProduct outside the explicit
    allowlist is a scale bug by definition (an N·M row comparison a
    1000-executor cluster cannot survive) — a new entry or a Catalyst
    strategy regression must fail here, not in production."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    offenders = {}
    for name, q in sorted(catalog().items()):
        plan = formatted_plan(q.builder(spark, sf_dir))
        flags = [
            f
            for f in ("BroadcastNestedLoopJoin", "CartesianProduct")
            if f in plan
        ]
        if flags and name not in NESTED_LOOP_ALLOWLIST:
            offenders[name] = flags
    assert not offenders, offenders


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark, sf_correctness_dir):
    """At 100 TB a fact↔fact join can't broadcast either side; Spark's
    runtime bloom filter is the scale path: the selective side's join
    keys are bloom-aggregated and a might_contain(xxhash64(key)) filter
    is injected on the probe side BEFORE its shuffle, so rows that
    can't match never leave the scan stage. This pins that the engine's
    plans actually get the injection when sizes warrant it (thresholds
    lowered to fixture scale; broadcast disabled to model two
    unbroadcastable sides)."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        orders = (
            load_table(spark, sf_correctness_dir, "orders")
            .filter("o_orderpriority = '1-URGENT'")
            .select("o_orderkey", "o_orderpriority")
        )
        li = load_table(spark, sf_correctness_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = formatted_plan(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# Per-entry shuffle-count ceilings, recorded from the shipped plans
# (sf0.001, the fixture the plan tests run on). Exchange count is the
# unit of cost at 100 TB, so ANY increase anywhere in the catalog must
# be a conscious decision: lowering a count is free (improvement);
# exceeding it fails here with the entry named. Iterative entries
# (components: star-contraction CC truncates lineage per round, so only
# its LAST round shows; PageRank's five fixed-point iterations are
# unrolled in-plan) still get a ceiling so an accidental extra
# per-round exchange is caught.
SHUFFLE_BUDGET = {
    "q51_sales_by_hour": 2,
    "q52_top10_products": 1,
    "q53_sales_by_shipping_tier": 3,
    "q54_rising_spend_customers": 2,
    "q55_snapshot_lifetime_read": 4,
    # r5: 9 → 10. The suite gained the ADC branch (float query ×
    # int8-quantized corpus); the +1 is its per-query window top-k —
    # the same single exchange every other branch pays. Code columns
    # derive map-side from the shared persisted corpus (no extra scan
    # or shuffle below the pair join).
    # r6: 10 → 30 STATIC. The PQ branch's codebook train + packed
    # broadcast + persisted coded frame print their lineage at each
    # reference in the formatted plan (same static-vs-executed gap as
    # q_dedup_components). EXECUTED per run: the train aggregates are
    # bounded by PQ_M·PQ_K·sub_dim = 1024 rows (train sample itself
    # bounded by PQ_TRAIN_N), the encode is one map-side pass over the
    # shared corpus cache, and the branch's own window top-k is the
    # same single data-sized exchange every other branch pays. Wall is
    # gated by WALL_BUDGET_S and the bench band.
    "q_ann_topk_suite": 30,
    "q_corpus_shard": 1,
    "q_customer_derived_attrs": 1,
    "q_decontaminate_suite": 4,
    # r4: star-contraction CC localCheckpoints each round, so the final
    # plan no longer unrolls the label-propagation rounds (151 → 19);
    # what remains is the last-round star join + PageRank's five
    # unrolled fixed-point iterations.
    # r6: 19 → 36 STATIC. True-PageRank dangling redistribution adds a
    # per-round 1-row aggregate (dangling sum) plus the printed
    # node-count aggregate at each of its five references — the
    # formatted plan unrolls those per round even though the rank
    # frames are persisted, so the EXECUTED exchange count per round is
    # one link join + one 1-row agg over the cached frame. Wall is
    # budget-gated (WALL_BUDGET_S) and the r6 measurement sits in band.
    # r10: 36 → 37. The canon part (quality-aware canonical selection)
    # adds ONE component-cardinality groupBy over the already-
    # materialized label frame; its two joins broadcast (labels are
    # dedup-output-sized, the score column rides the doc scan).
    "q_dedup_components": 37,
    # r4: 5 → 6. The semdedup final-assignment pass is now persisted
    # (it feeds BOTH sides of the cell pair join; without the cache the
    # 16-dot-fold assign pass ran twice). The InMemoryRelation boundary
    # makes the two join-side exchanges non-reusable in the STATIC
    # count, but the cache-build exchanges execute once — measured cold
    # wall at sf0.1 dropped ~25% (5.4 → 3.7 s median) with the persist
    # + precomputed norms.
    "q_dedup_embedding_cosine": 6,
    "q_dedup_exact": 3,
    "q_dedup_minhash_lsh": 16,
    "q_dedup_ngram_jaccard": 14,
    "q_dedup_simhash": 1,
    "q_dim_customer": 1,
    "q_dim_date": 1,
    "q_dim_extracted_suite": 5,
    "q_dim_product": 1,
    "q_dim_time_of_day": 0,
    # r6: 1 → 3. The suite gained the centroid-shift drift part
    # (operators/drift.py): one K×dim posexplode groupBy (the same
    # centroid cost class as the existing part) whose persisted per-pos
    # frame feeds both the dim rows and the 1-row flag aggregate — the
    # two extra exchanges are that groupBy and the dim-count-sized
    # flag aggregate.
    # r10: 3 → 7. The NCM classifier part adds: the train-split
    # prototype groupBy (L×dim rows, same centroid cost class), the
    # per-label array collect (L rows), the 1-row prototype-broadcast
    # collect, and the confusion-matrix groupBy (≤L² rows). Inference
    # itself is map-only over the broadcast — none of the new
    # exchanges is corpus-sized.
    "q_embedding_suite": 7,
    # r6: 0 → 8. The entry gained the drift-monitoring panel
    # (operators/drift.py): two statistics, each one key/bin-cardinality
    # groupBy over the side-tagged orders scan plus 1-row totals /
    # summary aggregates (the rest of the 8 are those 1-row frames and
    # the bounded-bin cumsum window — metadata-sized, not data-sized;
    # the only data-sized exchanges are the two partial-agg'd groupBys).
    # The audit counters themselves still ride the ONE observe pass.
    "q_etl_audit_metrics": 8,
    "q_etl_clean_staging": 1,
    "q_etl_stages_suite": 5,
    "q_event_funnel_asof": 2,
    "q_fact_monthly_snapshot": 4,
    "q_fact_sales": 4,
    "q_grouping_sets_suite": 3,
    # r6: q_json_props_stats (1) folded with the JSONL landing ingest
    # (scan-stage quarantine bucketing + one output-sized count-distinct
    # aggregate, 2) into the part-tagged suite — driver gates 50 names.
    "q_json_suite": 3,
    "q_merge_upsert_customers": 2,
    "q_multimodal_suite": 0,
    "q_pack_sequences": 1,
    "q_percentile_order_value": 1,
    "q_pivot_status_by_priority": 2,
    "q_range_join_price_bands": 1,
    "q_rank_topk_suite": 3,
    "q_sample_suite": 2,
    # r4: 2 → 3. The entry gained the MERGE composition branch
    # (entity='customer_merged', verdict #8): the pre-merge customer dim
    # is persisted (a real merge reads a stored dim), so its window
    # exchange counts once as the cache build; the third exchange is the
    # insert pass shuffling the tiny change batch to the dim's key
    # partitioning. The close-out pass broadcasts — the dim side itself
    # never re-shuffles.
    "q_scd2_build": 3,
    "q_scd2_point_in_time": 2,
    "q_sessionize_batch": 1,
    "q_setops_purchase_error_users": 6,
    "q_sink_csv_roundtrip": 0,
    # r6: 1 → 2. The ORC branch is a second independent read-back
    # aggregate (one groupBy per format); each is output-cardinality
    # (months), and the two scans prune to (o_totalprice, month_key).
    "q_sink_warehouse_roundtrip": 2,
    "q_sketch_suite": 9,
    # r4: 17 → 10. append_latest_month_lazy persists the 1-row bounds
    # aggregate (was re-scanned by four branches) and the prior snapshot
    # (read twice: union output + carried lifetime; in production it is
    # a stored table). Measured warm wall at sf0.01: 9.5 → 2.7 s.
    "q_snapshot_incremental_mom": 10,
    "q_split_leakage_report": 16,
    "q_stream_joins_stateful": 3,
    "q_stream_windows": 3,
    "q_text_metrics": 0,
    # r4: 7 → 12. The suite gained the char-trigram LM part
    # (lm_score_frame): per-doc trigram counts (1 corpus shuffle), the
    # bounded-domain model aggregate (partial-agg'd map-side, 1), the
    # 1-row total, and the per-doc score re-aggregate (1) — the model
    # and total join back as broadcasts, the corpus never re-shuffles
    # for scoring.
    # r6: 12 → 13. BPE apply ('bpe_enc'): ONE exchange folding the
    # 8-row learned merge table into a single ordered array (bounded by
    # BPE_ROUNDS, scale-free); the table broadcasts back and the encode
    # itself is map-only. The trainer's per-round VOCAB shuffles run
    # eagerly behind localCheckpoints and never appear in the final
    # plan.
    # r6 cont.: 13 → 28, STATIC ONLY (the q_dedup_components
    # discipline). Dropping the per-round best-pair checkpoint halves
    # the trainer's eager job barriers (16 → 8; measured 7.0 → 6.5 s
    # at sf0.1) at the price of the 8 argmax subtrees printing in the
    # final plan — each is a pair-count groupBy + 1-row TakeOrdered
    # over a ≤256-row localCheckpoint LEAF, bounded by the vocab cap,
    # scale-free. Executed corpus-sized exchanges are unchanged (the
    # r6 base 13).
    "q_text_mining": 28,
}


def test_catalog_shuffle_budget(spark, sf_dir):
    """Shuffle-creep canary over ALL 50 entries: each plan's Exchange
    count must stay at or under its recorded ceiling. A new stage that
    adds an exchange anywhere fails with the entry named instead of
    surfacing as a silently costlier plan at scale."""
    # Earlier tests leave persisted frames behind, and Spark's
    # CacheManager substitutes them into ANY later identical logical
    # plan — which changes Exchange counts. Measure from a clean cache
    # so the ceilings are context-independent.
    spark.catalog.clearCache()
    assert set(SHUFFLE_BUDGET) == set(catalog()), (
        "catalog changed — update SHUFFLE_BUDGET deliberately"
    )
    over = {}
    for name, q in sorted(catalog().items()):
        n = shuffle_count(q.builder(spark, sf_dir))
        if n > SHUFFLE_BUDGET[name]:
            over[name] = (n, SHUFFLE_BUDGET[name])
    assert not over, f"shuffle budget exceeded (got, ceiling): {over}"


def test_hash_key_mode_dims_plan_no_unpartitioned_window(spark, sf_dir):
    """SURVEY.md §1.1 scale path (r9 verdict "What's missing" #1): with
    ``key_mode="hash"`` every extracted dim assigns its surrogate as a
    map-side ``xxhash64(natural key)`` — ZERO Window nodes anywhere in
    the plan (the oracle default's row_number runs over one partition:
    fine for a catalog-scale dim, corpus-sized at a real retailer's
    DimCustomer). Customer/product dims are additionally shuffle-free
    end-to-end (broadcast joins / pure projection); payment/shipping
    keep only the DISTINCT extraction's shuffle, which is the A10
    operator itself, not the key."""
    from retail_datawarehouse_spark.dims.extracted import (
        q_dim_customer,
        q_dim_location,
        q_dim_payment,
        q_dim_product,
        q_dim_shipping,
    )
    from retail_datawarehouse_spark.plans.explain import (
        formatted_plan,
        shuffle_count,
    )

    dims = {
        "customer": q_dim_customer,
        "product": q_dim_product,
        "location": q_dim_location,
        "payment": q_dim_payment,
        "shipping": q_dim_shipping,
    }
    for name, fn in dims.items():
        hashed = fn(spark, sf_dir, key_mode="hash")
        plan = formatted_plan(hashed)
        assert "Window" not in plan, (name, plan)
        assert "xxhash64" in plan.lower(), name
        # the oracle default DOES carry the window — the modes differ
        # exactly where SURVEY.md says they should
        assert "Window" in formatted_plan(fn(spark, sf_dir))
    assert shuffle_count(q_dim_customer(spark, sf_dir, key_mode="hash")) == 0
    assert shuffle_count(q_dim_product(spark, sf_dir, key_mode="hash")) == 0


def test_q54_agg_and_window_share_one_exchange(spark, sf_dir):
    """r13 optimization pin: the monthly aggregate and the lag window
    are keyed compatibly (hash(cust) clusters (cust, month) too), so
    the whole pipeline up to TakeOrdered runs on ONE exchange — a
    regression back to separate agg/window exchanges fails here."""
    df = builder("q54_rising_spend_customers")(spark, sf_dir)
    assert shuffle_count(df) <= 1


def test_q55_window_runs_on_pre_densification_exchange(spark, sf_dir):
    """r13 optimization pin: the cumulative window's partitioning is
    established on the customer side BEFORE the month densification —
    the densified (customer × months) rows must never cross an
    exchange. Structure: in the plan tree the Window must sit directly
    on the join output (Sort allowed), not on an Exchange."""
    import re

    from retail_datawarehouse_spark.plans.explain import formatted_plan

    plan = formatted_plan(builder("q55_snapshot_lifetime_read")(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if re.search(r"\bWindow\b", ln)]
    assert win_idx, tree
    below_window = "\n".join(lines[win_idx[0] + 1 : win_idx[0] + 3])
    assert "Exchange" not in below_window, tree


def test_etl_collision_exchange_excludes_part_payload(spark, sf_dir):
    """r13 optimization pin (guide §8 'move heavy bytes once'): the
    collision window's exchange carries the 8-byte part KEY, never the
    wide p_name/p_brand/p_type payload — those re-attach by broadcast
    after the shuffle. The exchange's Input list must contain the key
    and none of the payload columns."""
    from retail_datawarehouse_spark.plans.explain import formatted_plan

    plan = formatted_plan(builder("q_etl_clean_staging")(spark, sf_dir))
    # the details section lists each Exchange with its Input columns;
    # find the transaction_id hash exchange and check its width
    blocks = [
        b
        for b in plan.split("\n\n")
        if b.startswith("(") and "Exchange" in b.splitlines()[0]
        and "hashpartitioning(transaction_id" in b
    ]
    assert blocks, plan
    for b in blocks:
        assert "_part_key" in b, b
        for payload in ("product_name", "Product_Brand", "Product_Type"):
            assert payload not in b, b
