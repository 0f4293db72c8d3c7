"""Physical-plan shape assertions — the scale contract, pinned.

Correctness tests prove WHAT each operator computes; these prove HOW it
executes, which is what survives a 100× scale-up: filters reach the
parquet scan, projections prune the read schema, small sides broadcast,
map-only operators really are shuffle-free, and top-k never global-sorts.
A regression here (a filter that stops pushing, a broadcast that degrades
to shuffle) changes no rows at sf0.001 but melts down at 100 TB — exactly
the class of bug row-comparison tests can't see.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entry_mod.queries()


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def tree(plan: str) -> str:
    """The operator tree only (nodes repeat in the detail section below)."""
    return plan.split("\n\n")[0]


def n_exchanges(plan: str) -> int:
    return tree(plan).count("Exchange")


# ------------------------------------------------------------ pushdown ----
def test_point_lookup_filter_reaches_parquet_scan(spark):
    plan = formatted_plan(QUERIES["p1_point_lookup"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]" in plan


def test_point_lookup_prunes_read_schema(spark):
    plan = formatted_plan(QUERIES["p1_point_lookup"](spark, SF_DIR))
    # ReadSchema carries exactly the projected columns — no full-row scan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert all(c in read for c in ("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
    assert "c_address" not in read and "c_comment" not in read


def test_flagship_pushes_shipdate_and_prunes_columns(spark):
    plan = formatted_plan(QUERIES["flagship_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read and "l_partkey" not in read


def test_like_predicates_push_to_scan(spark):
    plan = formatted_plan(QUERIES["p3_exclusion_filter"](spark, SF_DIR))
    # NOT LIKE '1-%' compiles to a pushable Not(StringStartsWith)
    assert "Not(StringStartsWith(o_orderpriority,1-))" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


# ------------------------------------------------------------ joins ------
def test_current_state_join_broadcasts_filtered_dim(spark):
    plan = formatted_plan(QUERIES["j1_current_state_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the dim-side filter also pushes into its scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_history_join_chain_stays_broadcast(spark):
    plan = formatted_plan(QUERIES["j2_history_join"](spark, SF_DIR))
    assert tree(plan).count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # point predicate propagates to BOTH fact scans via the equi-join keys
    assert "EqualTo(o_custkey,7)" in plan


# --------------------------------------------------------- map-only ops ----
def test_exact_near_dup_pairs_is_distributed_block_nlj(spark):
    """The exact verifier's contract: NO driver materialization (the old
    toPandas+broadcast form died at scale), one hash Exchange on the block
    pair id feeding FlatMapGroupsInPandas — no join, no window."""
    plan = formatted_plan(QUERIES["ann_near_dups_exact"](spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan
    assert "FlatMapGroupsInPandas" in plan
    # one hash Exchange on pid + the _tw parallelism repartition; on a real
    # (already-split) lake scan only the pid Exchange remains
    assert n_exchanges(plan) == 2


def test_simhash_map_is_shuffle_free(spark):
    plan = formatted_plan(QUERIES["dd_simhash"](spark, SF_DIR))
    assert "Join" not in plan and "Aggregate" not in plan and "Window" not in plan


# ------------------------------------------------------------- top-k ------
def test_deterministic_sample_avoids_global_sort(spark):
    """ORDER BY rand LIMIT n must compile to TakeOrderedAndProject (per-
    partition heaps + driver merge), not a full Exchange+Sort."""
    plan = formatted_plan(QUERIES["o3_deterministic_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert n_exchanges(plan) == 0


def test_group_topk_partial_aggregates_before_shuffle(spark):
    # the registry entry is the folded both-variants union; the per-operator
    # shape contract lives on one plain top_k_groups leg
    from udata_datalake_service_spark.operators.core import top_k_groups
    from udata_datalake_service_spark.session import read_table

    ev = read_table(spark, SF_DIR, "events")
    plan = formatted_plan(top_k_groups(ev, "event_type", k=20))
    # map-side combine: two HashAggregates around one Exchange
    assert tree(plan).count("HashAggregate") == 2
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------------ aggregate pass ----
def test_profile_is_single_scan(spark):
    """One aggregate pass for all columns: exactly one parquet scan even
    with N exact count_distincts (Expand, not N scans)."""
    from udata_datalake_service_spark.operators.profile import profile_df
    from udata_datalake_service_spark.session import read_table

    li = read_table(spark, SF_DIR, "lineitem")
    plan = formatted_plan(
        profile_df(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    )
    assert tree(plan).count("Scan parquet") == 1
    assert "Expand" in plan


def test_flagship_partial_aggregation(spark):
    plan = formatted_plan(QUERIES["flagship_pricing_summary"](spark, SF_DIR))
    assert tree(plan).count("HashAggregate") == 2  # partial + final
    assert n_exchanges(plan) == 1  # exactly the group-by shuffle


# ------------------------------------------------------- global sweep ----
# Joins that legitimately compile to BroadcastNestedLoopJoin:
#   - scalar-anchor pattern: crossJoin(broadcast(1-row aggregate)) — how
#     scalar subqueries execute; the broadcast side is a single row, so
#     the "nested loop" is one comparison per row at any scale;
#   - ann_topk_bruteforce: the documented broadcast cross join of a tiny
#     query set against the corpus (the exact baseline the approximate
#     ANN paths are verified against).
_NESTED_LOOP_OK = {
    "p9_time_window",
    "a5_st2_backoff_table",
    "p10_retention_survivors",
    "a8_purge_returning_count",
    "k_lake_roundtrip",
    "ann_topk",  # folded entry includes the broadcast brute-force baseline
    "ann_recall",  # scores LSH/IVF against that same broadcast baseline
    "tfidf_vocab",  # 1-row corpus-size anchor broadcast into the scorer
    "a9_quantiles",  # 1-row quantile-pass x 1-row distinct-pass cross join
    "ann_centroid_assign",  # documented broadcast of the k centroid rows
    "semantic_dedup",  # same k-centroid broadcast inside the assignment step
    "mm_embed_vq",  # same k-centroid broadcast (per-source centroids)
    # r8: cross joins between two BOUNDED broadcast sides — never a
    # corpus on either side, so the product is model-sized by contract
    "tx_lang_id",  # NB dense grid: |labels| x |vocab| (model build)
    "nb_source_classifier",  # same grid at 20-label cardinality
    "ann_pq_topk",  # queries x codebook distance table (<= q*m*2^(dim/m))
    # r9: corpus x 16-centroid broadcast (assignment + probing) and the
    # same queries x codebook table as ann_pq_topk — all bounded sides
    "ann_ivfpq_topk",
    # r11: same bounded shapes as ann_ivfpq_topk plus one more corpus x
    # 16-seed broadcast for the Lloyd training round — the broadcast
    # side is always the k=16 centroid rows, never a corpus
    "ann_ivfpq_trained",
    # r11 retrieval plane: 1-row (N, avgdl) corpus-stats anchor broadcast
    # into the BM25 scorer; the hybrid additionally carries the documented
    # ann_topk-style broadcast of the 5-query set for its cosine leg;
    # the lake leg probes through the same scorer (summed 1-row stats)
    "rt_bm25_topk",
    "rt_hybrid_rrf",
    "rt_lake_bm25",
    "rt_decontam",  # same 1-row stats anchor inside its BM25 leg
    "rt_hard_negatives",  # same anchor inside its BM25 candidate leg
}


def test_no_query_plans_a_cartesian_product(spark):
    """Every declared query, one contract: no CartesianProduct anywhere,
    and no nested-loop join outside the documented scalar-anchor /
    broadcast-baseline set. A cartesian slipping into any plan changes no
    rows at sf0.001 and melts down at 100 TB — this is the sweep that
    catches it the day it regresses.

    Honest limits: builders that execute eagerly during construction
    (k_lake writes, dd_dup_clusters' checkpointed propagation rounds,
    the toPandas-collecting ANN baselines) only expose their FINAL plan
    here — their inner joins are equi-joins by construction and are
    pinned by their own unit tests, not this sweep."""
    bad: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        t = tree(formatted_plan(fn(spark, SF_DIR)))
        marks = [m for m in ("CartesianProduct",) if m in t]
        if "BroadcastNestedLoopJoin" in t and name not in _NESTED_LOOP_OK:
            marks.append("BroadcastNestedLoopJoin")
        if marks:
            bad[name] = marks
    assert not bad, f"scale-hostile join shapes: {bad}"


# ------------------------------------------------- round-4 new operators ----
def test_chunking_is_map_only(spark):
    """chunk_documents claims shuffle-free — the plan must carry zero
    Exchanges beyond the input repartition the query helper adds."""
    from udata_datalake_service_spark.llm.packing import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(chunk_documents(docs, size=64, overlap=16))
    assert n_exchanges(plan) == 0


def test_split_assign_is_map_only_and_prunes(spark):
    from udata_datalake_service_spark.llm.mixing import split_assign

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = split_assign(
        docs.select("doc_id", "source"), {"train": 0.9, "test": 0.1}, ["doc_id"]
    )
    plan = formatted_plan(out)
    assert n_exchanges(plan) == 0
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read  # the fat column never leaves the scan


def test_span_coverage_shuffles_only_on_gram_and_doc(spark):
    """duplicated_span_coverage: exchanges exist only for the gram df
    aggregate, the gram join-back, and the per-doc window/agg — no
    cartesian, no broadcast of the corpus."""
    from udata_datalake_service_spark.llm.dedup import duplicated_span_coverage

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(duplicated_span_coverage(docs, span=8))
    t = tree(plan)
    assert "CartesianProduct" not in t and "BroadcastNestedLoopJoin" not in t


def test_quantile_profile_two_hash_aggregate_passes(spark):
    """Quantiles+counts in one aggregate, distincts in a second, 1-row
    cross join — never the SortAggregate-over-Expand the mixed form
    degrades to (measured 4x slower at sf0.1)."""
    from udata_datalake_service_spark.operators.profile import quantile_profile

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = formatted_plan(
        quantile_profile(li, ["l_quantity", "l_extendedprice"], (0.5, 0.9))
    )
    t = tree(plan)
    assert t.count("Scan parquet") == 2
    assert "SortAggregate" not in t


def test_quantile_profile_approx_partial_aggregates(spark):
    """Sketch mode must partial-aggregate map-side (HashAggregate pairs),
    the property that makes it the one-pass 100 TB path."""
    from udata_datalake_service_spark.operators.profile import quantile_profile

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = formatted_plan(quantile_profile(li, ["l_extendedprice"], (0.5,), approx=True))
    t = tree(plan)
    # partial+final pairs for both passes (GK sketch via ObjectHashAggregate,
    # HLL via HashAggregate) — map-side combined, never a SortAggregate
    assert t.count("ObjectHashAggregate") == 2
    assert t.count("- HashAggregate") == 2
    assert "SortAggregate" not in t


def test_runtime_bloom_filter_injection(spark):
    """enable_runtime_filters: a selective dim filter materializes as a
    bloom_filter_agg subquery whose might_contain lands on the fact side's
    scan — runtime row-group skipping for the J1/J3-shaped fact⋈dim joins."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.session import enable_runtime_filters

    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        enable_runtime_filters(spark, creation_side_max="10GB")
        # broadcast joins get their own pruning — force the shuffle-join
        # shape a 100 TB fact⋈dim takes, where the bloom filter matters
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_orderpriority"
        )
        plan = formatted_plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gopher_quality_is_map_only(spark):
    """The whole Gopher rule table (structural signals + n-gram repetition
    via mapInPandas) must plan as one scan-shaped stage: zero Exchanges."""
    from udata_datalake_service_spark.llm.gopher import gopher_quality

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(gopher_quality(docs))
    assert n_exchanges(plan) == 0
    assert "MapInPandas" in tree(plan)


def test_fuzzy_join_is_blocked_equi_join(spark):
    """fuzzy_join must join on the block key (hash/sort-merge equi-join),
    with the Levenshtein verify inside the join stage — never a cartesian
    or nested loop over the full sides."""
    import pyspark.sql.functions as F

    from udata_datalake_service_spark.operators.linkage import fuzzy_join

    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    blk = F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    a = part.select(F.col("p_name").alias("name_a"), blk)
    b = part.select(F.col("p_name").alias("name_b"), blk)
    t = tree(formatted_plan(fuzzy_join(a, b, "blk", "name_a", "name_b")))
    assert "CartesianProduct" not in t and "BroadcastNestedLoopJoin" not in t
    assert "Join" in t


def test_event_transitions_single_key_shuffle_before_matrix(spark):
    """The lag window shuffles once on the sequence key; the probability
    window and rank run over the aggregated matrix, not the events."""
    from udata_datalake_service_spark.operators.markov import event_transitions

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = formatted_plan(event_transitions(ev))
    t = tree(plan)
    assert "CartesianProduct" not in t
    # exchanges: key shuffle for the lag window, (prev,next) aggregate,
    # prev_event window — all on compact keys
    assert n_exchanges(plan) <= 3


# ------------------------------------------------- round-5 new operators ----
def test_url_quality_filter_is_map_only(spark):
    """The URL gate claims pre-fetch, scan-stage filtering — zero
    Exchanges, pure projection."""
    from udata_datalake_service_spark.functions.urls import url_quality_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "doc_id", "concat('https://h', doc_id % 7, '.org/p/', doc_id) AS url"
    )
    plan = formatted_plan(url_quality_filter(docs))
    assert n_exchanges(plan) == 0


def test_ngram_novelty_partial_aggregates_before_shuffle(spark):
    """Both novelty aggregates (per-doc count, min-owner per gram) must
    partial-aggregate map-side so the gram shuffle carries one row per
    (partition, key), and no join may touch the exploded corpus — the
    ownership regroup replaced it."""
    from udata_datalake_service_spark.caching import settle
    from udata_datalake_service_spark.llm.corpus import ngram_novelty

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = ngram_novelty(docs, k=2)
    t = tree(formatted_plan(out))
    assert t.count("HashAggregate") >= 4  # partial+final per aggregate
    assert "SortMergeJoin" not in t or t.count("Generate") <= 1
    settle(out)  # release the adopted explode cache


def test_paragraph_dedup_shuffles_on_hash_and_id_only(spark):
    """No cartesian/nested-loop; the ownership pass aggregates on the
    hashed paragraph key (map-side combined min) before any join."""
    from udata_datalake_service_spark.llm.corpus import paragraph_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    t = tree(formatted_plan(paragraph_dedup(docs, para_tokens=10)))
    assert "CartesianProduct" not in t and "BroadcastNestedLoopJoin" not in t
    assert "HashAggregate" in t


def test_padding_waste_report_window_shape(spark):
    """The report's only heavy nodes are the two documented global
    row_number windows (single-partition exchanges over (id, len) pairs);
    everything downstream partial-aggregates."""
    from udata_datalake_service_spark.llm.corpus import padding_waste_report
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.col("n_chars").alias("n")
    )
    t = tree(formatted_plan(padding_waste_report(docs, "n", batch_size=16)))
    assert t.count("SinglePartition") <= 4  # 2 windows + 2 final 1-row aggs
    assert "CartesianProduct" not in t


# --------------------------------------------------- raw-crawl boundary ----
def test_read_warc_is_scan_plus_single_mapinpandas(spark, tmp_path):
    """read_warc's scale contract: one binaryFile row per file exploded by
    exactly one Arrow-batched MapInPandas, ZERO Exchange — record
    extraction runs at decompression speed with file-level parallelism
    and nothing shuffles until a downstream operator asks for it."""
    from udata_datalake_service_spark.sources.warc import read_warc, write_warc

    f = tmp_path / "a.warc"
    f.write_bytes(
        write_warc(
            [(
                {"WARC-Type": "response",
                 "Content-Type": "application/http; msgtype=response"},
                b"HTTP/1.1 200 X\r\n\r\nhi",
            )]
        )
    )
    plan = formatted_plan(read_warc(spark, str(tmp_path)))
    t = tree(plan)
    assert t.count("MapInPandas") == 1
    assert "Scan binaryFile" in t
    assert n_exchanges(plan) == 0
    assert "Join" not in t and "Window" not in t and "Aggregate" not in t


def test_jpeg_meta_is_shuffle_free_mapinpandas(spark):
    """mm_jpeg_meta's decode ladder is a pure per-partition pipeline:
    MapInPandas stages over the parquet scan with ZERO Exchange — no
    join, window or aggregate anywhere, so JPEG decode parallelism equals
    scan parallelism at any corpus size."""
    plan = formatted_plan(QUERIES["mm_jpeg_meta"](spark, SF_DIR))
    t = tree(plan)
    assert "MapInPandas" in t
    assert n_exchanges(plan) == 0
    assert "Join" not in t and "Window" not in t and "Aggregate" not in t


def test_exif_meta_is_shuffle_free_mapinpandas(spark):
    """mm_exif_meta is the same map-only shape as the other media
    featurizers: build + parse are MapInPandas stages over the scan,
    ZERO Exchange — EXIF scanning parallelism equals scan parallelism."""
    plan = formatted_plan(QUERIES["mm_exif_meta"](spark, SF_DIR))
    t = tree(plan)
    assert "MapInPandas" in t
    assert n_exchanges(plan) == 0
    assert "Join" not in t and "Window" not in t and "Aggregate" not in t


def test_dense_ids_never_single_partition(spark):
    """dense_ids' reason to exist: the naive global ROW_NUMBER() funnels
    the table through Exchange SinglePartition; the operator's plan is a
    RANGE exchange + MapInPandas and contains neither a single-partition
    exchange nor a Window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.ids import dense_ids

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    naive = orders.withColumn(
        "rid", F.row_number().over(Window.orderBy("o_orderkey")) - 1
    )
    assert "SinglePartition" in formatted_plan(naive)  # the anti-pattern

    plan = formatted_plan(
        dense_ids(orders.select("o_orderkey"), ["o_orderkey"], num_partitions=8)
    )
    assert "SinglePartition" not in plan
    assert "Window" not in tree(plan)
    assert "MapInPandas" in tree(plan)
    assert "rangepartitioning" in plan


def test_reduced_anti_join_never_exchanges_corpus(spark):
    """The semi-join-reduction contract: the corpus (lineitem) side is
    scanned once and reaches both joins only through BroadcastExchange of
    key sets — zero shuffle exchanges, no SortMergeJoin, both joins are
    broadcast-hash."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.reduction import reduced_anti_join

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    batch = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderdate"
    )
    corpus = li.select(F.col("l_orderkey").alias("o_orderkey"))
    plan = formatted_plan(
        reduced_anti_join(batch, corpus, "o_orderkey", persist_candidates=False)
    )
    t = tree(plan)
    assert "SortMergeJoin" not in t
    assert "Exchange hashpartitioning" not in t
    assert t.count("BroadcastHashJoin") == 2
    # 3 scans: batch keys (reduction build), corpus (once), batch (probe) —
    # the corpus is the only side that matters and it appears exactly once
    assert t.count("Scan parquet") == 3


def test_nb_scoring_broadcasts_model_and_shuffles_docs_once(spark):
    """nb_predict's 100 TB contract: the vocab-bounded model and priors
    reach the corpus via BroadcastExchange only (no SortMergeJoin), and
    the per-doc work is hash-partitioned on the doc key — never a
    single-partition funnel."""
    plan = formatted_plan(QUERIES["tx_lang_id"](spark, SF_DIR))
    t = tree(plan)
    assert "BroadcastHashJoin" in t
    assert "SortMergeJoin" not in t
    assert "SinglePartition" not in plan
    # the doc-side aggregates partial before the shuffle (map-side combine)
    assert "partial_count" in plan or "partial_sum" in plan


def test_pq_adc_never_sortmerges_and_stays_jvm(spark):
    """ann_pq_topk's scale contract: the codebook/distance-table/rerank
    joins are ALL broadcast (no SortMergeJoin — the corpus is never
    exchanged for a join), nothing funnels through a single partition,
    and the whole pipeline is JVM expressions (no Python boundary)."""
    plan = formatted_plan(QUERIES["ann_pq_topk"](spark, SF_DIR))
    t = tree(plan)
    assert "SortMergeJoin" not in t
    assert t.count("BroadcastHashJoin") >= 3
    assert "SinglePartition" not in plan
    assert "MapInPandas" not in t and "BatchEvalPython" not in t


def test_ivfpq_probe_path_is_candidate_bounded(spark):
    """ann_ivfpq_topk's scale contract (VERDICT r8 #4): no full-corpus
    scan on the probe path — the ADC lookup joins candidates to the
    BROADCAST distance table (never sort-merging the corpus against the
    query set), centroid assignment/probing are 16-row broadcasts, and
    the whole pipeline stays JVM-side. The corpus is exchanged only on
    its own id for the assignment/ADC windows (the index-build shuffles
    that precompute as lake tables at production scale)."""
    plan = formatted_plan(QUERIES["ann_ivfpq_topk"](spark, SF_DIR))
    t = tree(plan)
    assert "SortMergeJoin" not in t
    assert t.count("BroadcastHashJoin") >= 3
    assert "MapInPandas" not in t and "BatchEvalPython" not in t
    assert "CartesianProduct" not in t


def test_tok_bpe_encode_is_jvm_only_map(spark):
    """tok_bpe_encode's scale contract: tokenizer application is a pure
    whole-stage-codegen map — NO Python eval node of any kind in the
    plan (the merge table compiles to literal replaces), no join, and
    the only shuffle is the vocabulary-grain piece count."""
    plan = formatted_plan(QUERIES["tok_bpe_encode"](spark, SF_DIR))
    t = tree(plan)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in t
    assert "SortMergeJoin" not in t
    assert "CartesianProduct" not in t
    # (WSCG ids appear only at execution under AQE — the no-Python-node
    # assertions above are the contract; see PLANS.md header.)


def test_bloom_probe_broadcasts_the_set_bit_table(spark):
    """sk_bloom_probe's scale contract: the probe join delivers the
    set-bit table via BroadcastExchange (the filter is <= d*w rows by
    construction, however large the member set), so the probe stream is
    never sort-merge-joined; no cartesian anywhere."""
    plan = formatted_plan(QUERIES["sk_bloom_probe"](spark, SF_DIR))
    t = tree(plan)
    assert "BroadcastHashJoin" in t
    assert "SortMergeJoin" not in t
    assert "CartesianProduct" not in t


def test_kmv_sketch_distinct_is_partial_aggregated(spark):
    """sk_kmv_ndv's scale contract: the only corpus-sized reduction is
    the distinct over (group, hash) — partial-aggregated map-side, so
    the shuffle carries post-distinct hashes, not rows — and the
    rank-k cut + estimate join stay free of cartesian/BNLJ shapes."""
    plan = formatted_plan(QUERIES["sk_kmv_ndv"](spark, SF_DIR))
    t = tree(plan)
    assert "HashAggregate" in t  # the distinct's partial/final pair
    assert "CartesianProduct" not in t
    assert "BroadcastNestedLoopJoin" not in t
    # VERDICT r9 #2: the row_number()<=k cut must stay a per-partition
    # partial top-k (Spark 4's InferWindowGroupLimit). Without this pin a
    # refactor could silently regress to a full per-group sort of the
    # whole distinct-hash set — a single-task straggler on a 100 TB
    # high-NDV group.
    assert "WindowGroupLimit" in t


def test_topk_per_group_rank_cuts_stay_window_group_limits(spark):
    """VERDICT r9 #2: every top-k-per-group idiom in the registry must
    keep Spark 4's WindowGroupLimit pushdown (per-partition partial
    top-k before the shuffle), so the rank cut never degenerates into a
    full per-group sort of the whole partition — the 100 TB hot-key
    straggler shape."""
    for q in ("o1_top2_per_key", "j5_latest_per_key", "sk_lake_rollup"):
        t = tree(formatted_plan(QUERIES[q](spark, SF_DIR)))
        assert "WindowGroupLimit" in t, q


def test_pair_set_eval_hit_join_is_never_broadcast(spark):
    """×256 probe finding (round 10): pair_set_eval's hit join has two
    pair-grain sides — both scale with the corpus, so neither may be
    planned as a broadcast build (compressed stats under the 64m
    threshold deserialized past a shared 8g heap at ×256). The
    shuffle_hash hint must hold: the (id_a,id_b) equi-join is a
    ShuffledHashJoin, not a BroadcastHashJoin."""
    from udata_datalake_service_spark.llm.dedup import pair_set_eval

    a = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    e = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    t = tree(formatted_plan(pair_set_eval(a, e)))
    assert "ShuffledHashJoin" in t
    # the only broadcasts allowed are the 1-row scorecard-leg crossJoins
    assert "BroadcastHashJoin" not in t
    for frame in (a, e):
        frame.unpersist()


def test_window_group_limit_pin_catches_rule_defeating_variant(spark):
    """Negative control for the WindowGroupLimit pins: a rank cut whose
    limit is NOT a literal (here rn <= a computed column) defeats
    InferWindowGroupLimit — the plan has a Window but no WindowGroupLimit
    node — proving the positive pins above actually discriminate."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    neg = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("k", F.lit(2) + F.col("o_orderkey") * 0)
        .filter(F.col("rn") <= F.col("k"))
    )
    t = tree(formatted_plan(neg))
    assert "Window" in t
    assert "WindowGroupLimit" not in t


def test_countmin_build_partial_aggregates_and_estimate_broadcasts(spark):
    """sk_countmin_hh's scale contract: the sketch build is a union +
    ONE (row, bucket)-grain aggregate with map-side combine (the sketch
    is d*w counters, so the shuffle is sketch-sized, not corpus-sized),
    and the point-query join delivers the sketch via BroadcastExchange —
    the token stream is never sort-merge-joined."""
    plan = formatted_plan(QUERIES["sk_countmin_hh"](spark, SF_DIR))
    t = tree(plan)
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BroadcastHashJoin" in t
    assert "SortMergeJoin" not in t


def test_bm25_probe_broadcasts_query_terms_and_keeps_partial_topk(spark):
    """rt_bm25_topk's scale contract: the query-term table (a probe
    batch, small by contract) is delivered to the posting table via
    BroadcastHashJoin — the corpus-sized side never reshuffles for a
    probe — the per-(query, doc) fixed-point sum is partial-aggregated
    (map-side combine carries the posting rows), the (N, avgdl) anchor
    is the allowlisted 1-row BNLJ, and the top-k cut keeps Spark 4's
    WindowGroupLimit (partial per-partition top-k before the shuffle)."""
    plan = formatted_plan(QUERIES["rt_bm25_topk"](spark, SF_DIR))
    t = tree(plan)
    assert "BroadcastHashJoin" in t
    assert "WindowGroupLimit" in t
    assert "partial_sum" in plan  # the w_fp sum combines map-side
    assert "SortMergeJoin" not in t
    assert "CartesianProduct" not in t


def test_rrf_fusion_stays_leg_bounded(spark):
    """rt_hybrid_rrf's scale contract: fusion operates on the two
    already-top-m legs (k·|queries| rows each) — a union plus one tiny
    group-by, never a join of corpus-sized sides — and every rank cut
    (each leg's top-20 and the fused top-10) stays a WindowGroupLimit."""
    plan = formatted_plan(QUERIES["rt_hybrid_rrf"](spark, SF_DIR))
    t = tree(plan)
    assert t.count("WindowGroupLimit") >= 3  # bm25 leg, cosine leg, fused
    assert "Union" in t
    assert "SortMergeJoin" not in t
    assert "CartesianProduct" not in t


def test_rt_decontam_joins_stay_broadcast(spark):
    """rt_decontam's scale contract: the eval-side n-gram table and the
    rank-bounded BM25 result are both broadcast — the corpus-sized
    n-gram explode never sort-merge-shuffles into either join.

    The registered query settles (localCheckpoint) its result, which
    collapses the declared plan to `Scan ExistingRDD`; assert on the
    lazy pre-settle frame instead."""
    from udata_datalake_service_spark.entry_queries import _rt_decontam_frames

    out, toks = _rt_decontam_frames(spark, SF_DIR)
    try:
        t = tree(formatted_plan(out))
    finally:
        toks.unpersist()
    assert "SortMergeJoin" not in t
    assert "CartesianProduct" not in t
    assert "WindowGroupLimit" in t  # the BM25 top-20 cut
