"""Physical-plan audits: the scale posture, asserted.

Correctness tests prove the operators compute the right rows; these
prove they compute them with the right PLAN — the properties that
decide whether the same code survives a 1000-executor / 100 TB run:
broadcast joins where a side is small, filters and projections pushed
into the parquet scan, map-side partial aggregation before shuffles,
and no global-sort shuffle for top-k.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.operators.annotate import annotate_variants
from eggv_spark.operators.relational import dedupe, sort_limit
from eggv_spark.sources.readers import read_table

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_annotation_join_is_broadcast(spark):
    variants = spark.createDataFrame(
        [(1, "intron_variant", "T1")], ["rsid", "effect", "transcript"]
    )
    genes = spark.createDataFrame(
        [("chr1", 1, 2, "T1", "G1", "N1", "protein_coding")],
        ["chromosome", "start", "end", "transcript_id",
         "gene_id", "gene_name", "biotype"],
    )
    plan = _plan(annotate_variants(variants, genes))
    # Gene side broadcast: no shuffle of the (billions-of-rows)
    # variant side — strictly better than the reference, which
    # shuffles both sides (eggv/annotate.py:70-77).
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parquet_scan_pushdown_and_pruning(spark):
    df = (
        read_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey")
    )
    plan = _plan(df)
    # Predicate reaches the parquet reader (row-group skipping)...
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]" in plan
    # ...and the scan reads only the referenced columns.
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>" in plan


def test_dedupe_has_mapside_partial_aggregate(spark):
    plan = _plan(dedupe(read_table(spark, SF_DIR, "orders").select("o_custkey")))
    # partial_first/HashAggregate before the exchange: the dedup
    # shrinks data BEFORE it shuffles (captures the reference's
    # shuffle-avoiding local dedup, eggv/process.py:289-294).
    before_exchange = plan.split("Exchange")[-1]
    assert "HashAggregate" in before_exchange


def test_topk_avoids_global_sort(spark):
    plan = _plan(
        sort_limit(
            read_table(spark, SF_DIR, "orders"),
            [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
            10,
        )
    )
    assert "TakeOrderedAndProject" in plan
    # A global Sort + Exchange(rangepartitioning) would be the
    # scale-unsafe plan.
    assert "rangepartitioning" not in plan


def test_hive_partitioned_write_prunes_on_read(spark, tmp_path):
    from eggv_spark.sources.writers import write_parquet

    df = spark.createDataFrame(
        [("chr1", 1, 10.0), ("chr1", 2, 20.0), ("chr2", 3, 30.0)],
        ["chromosome", "rsid", "maf"],
    )
    path = str(tmp_path / "variants_parted")
    write_parquet(df, path, partition_by=["chromosome"])

    back = spark.read.parquet(path).filter(F.col("chromosome") == "chr1")
    plan = _plan(back)
    # The chromosome predicate prunes PARTITIONS (directories never
    # opened), not just row groups — the access pattern per-chromosome
    # consumers rely on at 100 TB.
    assert "PartitionFilters: [isnotnull(chromosome" in plan
    assert back.count() == 2


def test_relational_chain_stays_in_codegen(spark):
    df = (
        read_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_quantity") > 25)
        .withColumn("disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .groupBy("l_returnflag")
        .agg(F.sum("disc_price").alias("revenue"))
    )
    df.collect()  # finalize the adaptive plan so codegen spans show
    plan = _plan(df)
    # Whole-stage codegen spans (the `*(n)` markers) cover the
    # scan->filter->project->partial-agg pipeline; partial_sum proves
    # map-side aggregation; nothing dropped to a Python UDF.
    assert "*(1) HashAggregate" in plan and "partial_sum" in plan
    assert "*(1) Filter" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_probe_is_broadcast(spark):
    from eggv_spark.operators.text_analysis import decontaminate

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(
        decontaminate(
            docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0")
        )
    )
    # Both the contamination probe (semi) and the removal (anti) must
    # be broadcast existence filters — the train side never shuffles.
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_joins_are_broadcast(spark):
    from eggv_spark.operators.text_analysis import tfidf_top_terms

    plan = _plan(tfidf_top_terms(read_table(spark, SF_DIR, "documents")))
    # vocabulary-side df table and the 1-row N both broadcast; the
    # token stream itself shuffles exactly twice (tf agg + window).
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N cross join
    assert "SortMergeJoin" not in plan


def test_funnel_aggregates_are_partial(spark):
    from eggv_spark.operators.events import funnel_counts

    plan = _plan(funnel_counts(read_table(spark, SF_DIR, "events")))
    # every min-per-user agg does map-side partial_min first
    assert "partial_min" in plan


def test_systematic_sample_predicate_reaches_scan(spark):
    from eggv_spark.operators.relational import systematic_sample

    plan = _plan(
        systematic_sample(read_table(spark, SF_DIR, "lineitem"), "l_orderkey", 100, 5)
    )
    # pmod isn't a parquet-pushable predicate, but it must sit in the
    # scan-adjacent Filter inside WholeStageCodegen (no extra stage).
    assert "Filter" in plan and "Exchange" not in plan


def test_chunk_documents_is_shuffle_free(spark):
    from eggv_spark.operators.text_analysis import chunk_documents

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(chunk_documents(docs))
    # Tokenize + explode + slice are all map-side: a 100 TB corpus
    # chunks without a single exchange.
    assert "Exchange" not in plan


def test_pack_sequences_single_shuffle_on_shard(spark):
    from eggv_spark.operators.text_analysis import pack_sequences

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(pack_sequences(docs))
    # Exactly one exchange: the window partitioning on shard.  A
    # global (unsharded) cumsum would show a SinglePartition exchange.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_stratified_sample_predicate_reaches_scan(spark):
    from eggv_spark.operators.relational import stratified_sample_hash

    orders = read_table(spark, SF_DIR, "orders")
    plan = _plan(
        stratified_sample_hash(
            orders, "o_orderpriority", "o_orderkey", {"1-URGENT": 50}
        )
    )
    # The hash-rate predicate is a plain Filter over scan output —
    # no shuffle, no window, no join.
    assert "Exchange" not in plan


def test_corr_cov_agg_is_partial(spark):
    from eggv_spark.operators.aggregates import corr_cov_agg

    li = read_table(spark, SF_DIR, "lineitem")
    plan = _plan(corr_cov_agg(li, ["l_returnflag"], "l_quantity", "l_extendedprice"))
    # Map-side partial aggregation: the shuffle carries six-double
    # moment partials per group, not rows.
    assert "partial" in plan.lower()


def test_gvf_regex_extracts_are_staged_single_eval(spark):
    from eggv_spark.operators.variants import explode_effects, extract_variant_fields
    from eggv_spark.sources.readers import read_gvf_split
    from tests.fixtures import GVF_TEXT

    import tempfile, os
    tmp = tempfile.mkdtemp()
    path = os.path.join(tmp, "v.gvf")
    with open(path, "w") as f:
        f.write(GVF_TEXT)
    plan = _plan(explode_effects(extract_variant_fields(read_gvf_split(spark, path))))
    # One regexp_extract per expensive attr grammar — the staged
    # two-projection form.  The nullif single-expression form
    # duplicates each regex into the conditional's branches.  (The
    # rsid extract legitimately appears again inside the pushed-down
    # na.drop Filter — that pushdown prunes rsid-less rows before the
    # other four extracts run, which is the right trade.)  A round-11
    # locate/substring rewrite of this block measured 2.5-4.5x SLOWER
    # (OPTIMIZATION_r11.md, item 2 — Java regex literal search beats
    # Spark's naive locate/instr byte loops) and was reverted; this
    # pin guards the five-regex shape.
    for pattern in ("Variant_seq=", "Reference_seq=",
                    "global_minor_allele_frequency=", "Variant_effect="):
        assert plan.count(pattern) == 1, pattern


def test_embedding_neardup_candidates_use_equijoin(spark):
    from eggv_spark.operators.dedupe import embedding_neardup_pairs

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(embedding_neardup_pairs(emb, dim=64))
    # Banded sign-LSH candidates come from a hash equi-join on
    # (table, bucket) — never a nested-loop over all pairs.
    assert "NestedLoop" not in plan
    assert "Join" in plan


def test_top_ngrams_avoids_global_sort_and_partial_aggregates(spark):
    from eggv_spark.operators.text_analysis import top_ngrams

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(top_ngrams(docs, n=2, k=50))
    # top-k is TakeOrderedAndProject (heap per partition + driver
    # merge of k rows), never a global Sort shuffle of every n-gram
    assert "TakeOrderedAndProject" in plan
    # the count gets a map-side partial_count before the shuffle —
    # the combiner that absorbs the Zipf head at corpus scale
    assert "partial_count" in plan


def test_cap_per_group_single_shuffle(spark):
    from eggv_spark.operators.relational import cap_per_group

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(cap_per_group(docs, "source", "doc_id", 10))
    # exactly one exchange: the window's hash partition on the group
    assert plan.count("Exchange hashpartitioning") == 1


def test_kmeans_estep_is_map_only(spark):
    from eggv_spark.operators.similarity import kmeans_assign

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(kmeans_assign(emb, n_clusters=4))
    # E-step must not shuffle or join: centroids are a literal,
    # the argmin is per-row Column math
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_cdc_apply_two_exchanges_and_no_row_udf(spark):
    """cdc_apply's plan budget: ONE window exchange (latest change per
    key) plus ONE join-side exchange at most — at CDC scale the change
    batch is small, so AQE turns the anti-join broadcast and the
    snapshot side never shuffles."""
    from eggv_spark.operators.tableops import cdc_apply

    current = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    changes = spark.createDataFrame(
        [(1, 1.0, "U", 1), (2, None, "D", 2)],
        "o_orderkey long, o_totalprice double, op string, seq long",
    )
    plan = _plan(cdc_apply(current, changes, ["o_orderkey"], "seq"))
    # static plan: window exchange + the anti-join's two sides; at
    # runtime AQE (isFinalPlan=false here) broadcasts the tiny change
    # batch, collapsing the join exchanges — the snapshot side then
    # never shuffles.  The hard bound asserted: no extra exchanges
    # beyond those three, and no Python-row evaluation anywhere.
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "AdaptiveSparkPlan" in plan
    assert "BatchEvalPython" not in plan


def test_decayed_sum_single_window_exchange(spark):
    from eggv_spark.operators.aggregates import with_decayed_sum

    ev = read_table(spark, SF_DIR, "events")
    plan = _plan(
        with_decayed_sum(ev, "value", ["user_id"], ["ts", "event_id"])
    )
    # all 8 lag terms ride ONE window over ONE shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_minhash_estimate_no_explode_no_cartesian(spark):
    from eggv_spark.operators.dedupe import minhash_jaccard_estimate

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    plan = _plan(minhash_jaccard_estimate(docs, pairs))
    # signature agreement is in-row array math: no Generate (explode)
    # of signature components, no cartesian pair blow-up
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan


def test_olap_q5_broadcasts_dims_keeps_fact_join_keyed(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["olap_q5_local_supplier"](spark, SF_DIR))
    # nation x region, supplier, and the dim table are broadcast;
    # no cartesian anywhere in a 6-way join
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_position_set_is_broadcast(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["ddp_bloom_prefilter"](spark, SF_DIR))
    # the folded bit-position set joins broadcast (<= m_bits rows by
    # construction) — the probe side never shuffles for the membership
    # test itself
    assert "BroadcastHashJoin" in plan


def test_rolling_corr_single_shuffle(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["win_rolling_corr"](spark, SF_DIR))
    # prefix-sum formulation: both window passes share the returnflag
    # hash partitioning — exactly one exchange, frame width never
    # enters the cost
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_are_cache_bounded(spark):
    from pyspark.sql import Row

    from eggv_spark.operators import graph as G

    e = spark.createDataFrame(
        [Row(src=1, dst=2, weight=1), Row(src=2, dst=1, weight=1)]
    )
    ranks = G.pagerank(e, iterations=3)
    plan = _plan(ranks)
    # each iteration reads the previous ranks through a checkpoint
    # leaf (ExistingRDD lineage cut), so per-iteration work does not
    # re-derive the full lineage prefix — and nothing is registered
    # in the session-wide cache
    assert "ExistingRDD" in plan
    assert "InMemoryTableScan" not in plan


def test_partition_pruning_reaches_scan(spark):
    import __spark_entry__ as E

    df = E.queries()["tbl_partition_pruning"](spark, SF_DIR)
    plan = _plan(df)
    # the year predicate must prune partition DIRECTORIES, not rows:
    # it appears as a PartitionFilters entry on the scan and the data
    # filter list stays free of o_year
    assert "PartitionFilters: [" in plan and "o_year" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


# ---------------------------------------------------------------------------
# round-3 additions: TPC-H analog shapes + new analytics operators
# ---------------------------------------------------------------------------

def test_olap_q4_exists_is_semi_join(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["olap_q4_priority_check"](spark, SF_DIR))
    # EXISTS compiles to a semi join (no row duplication from
    # multi-line orders), never a full join + distinct
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_olap_q21_exists_notexists_semi_anti(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["olap_q21_waiting_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # final top-100 is TakeOrdered, not a global sort shuffle
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_triangle_count_joins_are_hash_not_nested_loop(spark):
    from pyspark.sql import Row

    from eggv_spark.operators.graph import triangle_count

    e = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in [(1, 2), (2, 3), (1, 3)]]
    )
    plan = _plan(triangle_count(e))
    # wedge join and closing-edge probe key on node ids: equi hash
    # joins; the only nested-loop is the 1-row summary combine
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 1-row combines only


def test_semantic_dedupe_pair_join_keys_on_cluster(spark):
    from pyspark.sql import Row

    from eggv_spark.operators.similarity import semantic_dedupe

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)] * 8) for i in range(6)]
    )
    plan = _plan(semantic_dedupe(df, n_clusters=2, dim=8))
    # the quadratic scan is keyed per cluster — an equi join on
    # cluster_id, never an all-pairs product over the corpus
    assert "CartesianProduct" not in plan
    assert "cluster_id" in plan


def test_balanced_downsample_one_window_one_broadcast(spark):
    from pyspark.sql import Row

    from eggv_spark.operators.relational import balanced_downsample

    df = spark.createDataFrame(
        [Row(k=i, lab=i % 3) for i in range(30)]
    )
    plan = _plan(balanced_downsample(df, "lab", "k"))
    # one ranking window on the class key + a 1-row broadcast of the
    # minority size; no extra shuffles
    assert plan.count("Window") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row min_n combine
    assert "CartesianProduct" not in plan


def test_index_dedup_probe_is_keyed_join(spark):
    from eggv_spark.operators.dedupe import (
        dedupe_against_index,
        minhash_band_index,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    index = minhash_band_index(docs)
    shard = docs.filter("doc_id % 10 = 0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    plan = _plan(dedupe_against_index(shard, index))
    # the probe is an equi-join on (band, band_key) — never all-pairs
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # signature agreement is in-row zip_with math, not an explode of
    # signature slots
    assert plan.count("Generate explode") <= 2  # band rows only (2 sides)


def test_sliding_window_dedup_counts_partial_and_no_cartesian(spark):
    from eggv_spark.operators.dedupe import sliding_window_dedup

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    plan = _plan(sliding_window_dedup(docs, window_tokens=8))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the corpus-wide window-frequency count must partial-aggregate
    # map-side before its exchange (the Zipf-head boilerplate key
    # collapses per map task)
    assert "partial_count" in plan


def test_poisson_bootstrap_single_pass_partial_aggregate(spark):
    from eggv_spark.operators.aggregates import poisson_bootstrap_mean

    ev = read_table(spark, SF_DIR, "events")
    plan = _plan(poisson_bootstrap_mean(ev, "value", "event_id"))
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", ""
    )  # the only nested-loop is the documented 1-row scalar join
    assert "BatchEvalPython" not in plan
    # replicate sums partial-aggregate before the B-group exchange
    assert "partial_sum" in plan


def test_ecdf_single_partial_aggregate_pass(spark):
    from eggv_spark.operators.aggregates import ecdf_at_points

    li = read_table(spark, SF_DIR, "lineitem")
    plan = _plan(
        ecdf_at_points(li, ["l_returnflag"], "l_extendedprice", [1.0, 2.0])
    )
    # sort-free: one keyed hash aggregate with a map-side partial,
    # never a Sort/Window over the input
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()
    assert "Sort " not in plan.split("Exchange")[1]


def test_unicode_profile_is_pure_projection(spark):
    from eggv_spark.operators.text_analysis import with_unicode_profile

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(with_unicode_profile(docs))
    assert "Exchange" not in plan          # no shuffle
    assert "BatchEvalPython" not in plan   # no row-wise Python


def test_png_parse_stays_jvm_side(spark):
    from eggv_spark.operators.multimodal import (
        parse_png_header, synthesize_png_headers,
    )

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(parse_png_header(synthesize_png_headers(docs)))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan        # neither row nor Arrow UDF


def test_cohort_ltv_broadcasts_cohort_sizes(spark):
    from eggv_spark.operators.events import cohort_ltv

    orders = read_table(spark, SF_DIR, "orders")
    plan = _plan(cohort_ltv(orders))
    assert "BroadcastHashJoin" in plan


def test_permutation_test_reduces_before_shuffle(spark):
    from eggv_spark.operators.aggregates import permutation_test_diff

    ev = read_table(spark, SF_DIR, "events").withColumn(
        "_arm", (F.col("user_id") % 2).cast("int")
    )
    plan = _plan(
        permutation_test_diff(
            ev, ["event_type"], "_arm", "value", "event_id",
            n_permutations=8,
        )
    )
    # the B-replicate aggregation must partial-aggregate map-side so
    # the shuffle carries B rows per group per partition, not B
    # copies of the input
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# round-7 registrations: scale posture asserted
# ---------------------------------------------------------------------------

def test_c4_line_filters_is_shuffle_free(spark):
    from eggv_spark.operators.text_analysis import c4_line_filters

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(c4_line_filters(docs))
    assert "Exchange" not in plan          # pure per-row Column math
    assert "EvalPython" not in plan


def test_epoch_shuffle_single_exchange_no_global_sort(spark):
    from eggv_spark.operators.relational import epoch_shuffle

    orders = read_table(spark, SF_DIR, "orders").select("o_orderkey")
    plan = _plan(epoch_shuffle(orders, ["o_orderkey"], 3, 8))
    # exactly one hash exchange on the shard id; a global sort would
    # be a rangepartitioning exchange
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan


def test_prefix_dim_recall_query_filter_is_pushed_down(spark):
    from eggv_spark.operators.similarity import prefix_dim_recall

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(prefix_dim_recall(
        emb, dims_list=[4], k=3, query_pred=F.col("vec_id") < 10
    ))
    assert "rangepartitioning" not in plan  # no global sort anywhere
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]" \
        in plan or "LessThan(vec_id,10)" in plan


def test_embedding_drift_has_no_nested_loop_join(spark):
    from eggv_spark.operators.similarity import embedding_drift

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(embedding_drift(emb, "label", "embedding", 0, 1))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_containment_verify_has_no_pair_regroup(spark):
    from eggv_spark.operators.dedupe import containment_pairs

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(containment_pairs(docs, max_block_size=64))
    assert "array_intersect" in plan       # in-row verify
    # the block-cap semi-join is live
    assert "LeftSemi" in plan


def test_uplift_single_fold_then_segment_agg(spark):
    from eggv_spark.operators.events import uplift_by_segment

    ev = read_table(spark, SF_DIR, "events").select(
        F.lit("s").alias("seg"), F.col("user_id").alias("unit"),
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
        .alias("variant"),
        (F.col("value") > 450).cast("int").alias("converted"),
    )
    plan = _plan(uplift_by_segment(ev, "unit", "variant", "converted",
                                   "seg"))
    assert "partial" in plan.lower()       # map-side combine on the fold
    assert "EvalPython" not in plan


def test_tokenizer_pipeline_two_corpus_shuffles(spark):
    """The tokenizer composite (BPE apply -> budget select -> sequence
    pack) must cost exactly TWO corpus shuffles: the (doc, domain)
    aggregation and ONE domain-partitioned window — the word map joins
    as a broadcast, and the pack offsets fall out of the same window
    arithmetically (VERDICT r07 item 6's <=2-shuffle contract)."""
    from eggv_spark.operators.text_analysis import tokenizer_pipeline

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 5}", f"s{i % 2}")
         for i in range(20)],
        ["doc_id", "text", "source"],
    )
    word_sizes = spark.createDataFrame(
        [("alpha", 2), ("beta", 3), ("gamma", 2)] +
        [(f"doc{k}", 4) for k in range(5)],
        ["_w", "_n_syms"],
    )
    out = tokenizer_pipeline(
        docs, word_sizes, budget_tokens=60, seq_tokens=16
    )
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastHashJoin" in plan          # word map never shuffles
    assert "SortMergeJoin" not in plan
    # and the window costs no second exchange beyond the agg's
    assert plan.count("Window") == 1

    # behavior: per-source greedy prefix fill + arithmetic packing
    rows = out.collect()
    assert rows, "budget must admit at least one doc"
    for r in rows:
        assert r["cum_tokens"] <= 60
        assert r["seq_bin"] == (r["cum_tokens"] - r["n_bpe_tokens"]) // 16


def test_bm25_filter_rides_array_and_topk_is_takeordered(spark):
    """BM25's query-term filter must live INSIDE the token array
    (generated rows = query hits, not corpus tokens), df must join as
    a broadcast, and the top-k cut must be TakeOrdered — never a
    global sort."""
    from eggv_spark.operators.text_analysis import bm25_topk

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(bm25_topk(docs, ["vector", "merge", "stream"], k=50))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the pre-explode filter: the Generate input carries a filtered
    # array expression, so the explode is over `qt`, not raw tokens
    assert "filter(" in plan


def test_energy_distance_one_window_over_distinct_values(spark):
    """Energy distance must fold to per-distinct-value counts FIRST
    (map-side combinable) and run exactly one cumulative window over
    that value-distinct table — never a window or sort over raw
    rows."""
    from eggv_spark.operators.aggregates import energy_distance

    ev = read_table(spark, SF_DIR, "events")
    plan = _plan(
        energy_distance(
            ev, "event_type",
            F.round(F.col("value") * 100).cast("long"),
            "view", "purchase",
        )
    )
    assert plan.count("Window") == 1
    assert "partial_sum" in plan.lower() or "partial" in plan.lower()
    assert "EvalPython" not in plan


def test_image_channel_hist_is_shuffle_free(spark):
    """The histogram is per-asset arithmetic inside one Arrow batch —
    zero exchanges; partitioning rides the asset scan."""
    from eggv_spark.operators.multimodal import (
        image_channel_hist,
        synthesize_ppm_images,
    )

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(image_channel_hist(synthesize_ppm_images(docs, 8, 8)))
    assert "Exchange" not in plan


def test_kmeans_lloyd_broadcasts_state_never_sorts_globally(spark):
    """Every Lloyd round must join the k-row centroid state as a
    BROADCAST product (k-times row expansion, never data-to-data) and
    the deterministic seed must compile to TakeOrderedAndProject —
    a rangepartitioning exchange would be a global sort of the
    corpus."""
    from eggv_spark.operators.ml import kmeans_lloyd

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(kmeans_lloyd(emb, k=4, n_steps=2, dim=8))
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_isotonic_minimax_runs_on_bin_frame_only(spark):
    """The B-squared range table and B-cubed membership join must hang
    off the BIN AGGREGATE (one data-sized groupBy feeds everything);
    the non-equi joins stay nested-loop over the bounded bin frame —
    no data-sized cartesian, no Python stage."""
    from eggv_spark.operators.ml import isotonic_calibration

    li = read_table(spark, SF_DIR, "lineitem")
    plan = _plan(
        isotonic_calibration(
            li,
            F.round(F.col("l_discount") * 100).cast("long"),
            (F.col("l_returnflag") == "R").cast("long"),
        )
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # boundedness marker the lint keys on: the bin frame carries an
    # explicit row limit into every nested-loop build side
    assert "GlobalLimit" in plan or "CollectLimit" in plan


def test_embedding_coherence_centroids_join_broadcast(spark):
    """Label centroids must come from ONE map-side-combined
    per-dimension aggregation and join back as a broadcast — the
    corpus is never self-joined, and the cosine is pure Column
    arithmetic (no Python)."""
    from eggv_spark.operators.similarity import embedding_coherence

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(embedding_coherence(emb, dim=16))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_acf_one_corpus_groupby_one_spine_window(spark):
    """The only data-sized work is the groupBy(day); the lead window
    runs once over the day spine and all n_lags leads share it."""
    from eggv_spark.operators.events import acf_lags

    ev = read_table(spark, SF_DIR, "events")
    plan = _plan(acf_lags(ev, "ts", n_lags=7))
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_stump_single_corpus_pass_broadcast_grid(spark):
    """The threshold grid joins as a broadcast against the exploded
    corpus (grid-times expansion, never data-to-data) and the whole
    fit is one aggregation — no Python stage, no cartesian."""
    from eggv_spark.operators.ml import decision_stump_fit

    emb = read_table(spark, SF_DIR, "embeddings").select(
        "embedding", (F.col("label") >= 5).cast("long").alias("label")
    )
    plan = _plan(decision_stump_fit(emb, dim=8))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "Exchange rangepartitioning" not in plan
    # the grid is a literal relation: a Limit's generated code is new
    # source on every build, so the stump would never hit codegen's cache
    assert not any(
        op in plan for op in ("GlobalLimit", "LocalLimit", "CollectLimit")
    )


def test_hits_rounds_shuffle_edges_not_floats(spark):
    """Every HITS round is two edge-keyed aggregations (the pagerank
    posture); scores stay DECIMAL until the single final
    normalization — no Python, no cartesian, no global sort."""
    from eggv_spark.registry.graph import _trade_edges
    from eggv_spark.operators.graph import hits_scores

    edges = _trade_edges(spark, SF_DIR)
    plan = _plan(hits_scores(edges, n_rounds=1))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_mmr_candidate_cut_is_takeordered(spark):
    """The only data-sized step is the relevance scan: the candidate
    pool must be cut by TakeOrderedAndProject (never a global sort),
    and the greedy rounds run on limit-bounded frames."""
    from eggv_spark.operators.similarity import mmr_diversify

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(
        mmr_diversify(emb, query_id=0, dim=8, n_candidates=10, k=3)
    )
    assert "Exchange rangepartitioning" not in plan
    assert "EvalPython" not in plan


def test_rake_topk_is_takeordered_and_word_join_broadcasts(spark):
    """RAKE's vocabulary-sized score table joins back by word as a
    broadcast and the final ranking is TakeOrdered on the rounded
    score — no global sort of phrases."""
    from eggv_spark.operators.text_analysis import rake_keywords

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(rake_keywords(docs, top_k=15))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "EvalPython" not in plan


def test_bnlj_lint_proves_build_side_tiny_at_its_root(spark):
    """scripts/plan_lint.py: a 1-row aggregate at the broadcast root is
    a tiny build side; the same aggregate under an explode is not, and
    neither is a keyed aggregate."""
    from scripts.plan_lint import unbounded_nested_loops

    big = spark.range(1000)
    total = big.agg(F.sum("id").alias("t"))
    spread = total.select(
        "t", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("x")
    )
    keyed = big.groupBy((F.col("id") % 7).alias("g")).count()
    assert unbounded_nested_loops(big.crossJoin(F.broadcast(total))) == 0
    assert unbounded_nested_loops(big.crossJoin(F.broadcast(spread))) == 1
    assert unbounded_nested_loops(big.crossJoin(F.broadcast(keyed))) == 1


def test_repeated_registry_mix_compiles_no_new_classes(spark):
    """A session that repeats a working set compiles each generated
    class once: the second cycle of the registry_mix benchmark's six
    entries hits Spark's codegen cache for every class (the cache is
    sized to hold them, and no entry emits new source per build)."""
    import __spark_entry__ as E

    registry = E.queries()
    entries = (
        "ddp_minhash_neardup", "ddp_containment", "txt_repetition",
        "decision_stump", "graph_kcore", "sim_kcenter_coreset",
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def cycle() -> int:
        before = compiles.getCount()
        for q in entries:
            registry[q](spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
        return compiles.getCount() - before

    cycle()
    # PySpark names lambda variables from a JVM-global counter; when a
    # name gains a digit (x_99 -> x_100) the longer expression text can
    # change how codegen splits methods, and that one cycle recompiles.
    # An undersized cache or new source on every build recompiles in
    # every cycle, so neither passes two cycles in a row.
    assert min(cycle(), cycle()) == 0


def test_query_build_captures_no_call_sites(spark, monkeypatch):
    """Sessions turn off PySpark's DataFrame call-site capture, which
    costs several py4j round trips on every Column and DataFrame call:
    building a registry entry captures no call site."""
    import pyspark.errors.utils as pyspark_errors
    import __spark_entry__ as E

    # PySpark caches the conf per process; None makes it re-read the
    # active session's value
    monkeypatch.setattr(pyspark_errors, "_enable_debugging_cache", None)
    captured = []
    capture = pyspark_errors._capture_call_site

    def counting(depth):
        captured.append(depth)
        return capture(depth)

    monkeypatch.setattr(pyspark_errors, "_capture_call_site", counting)
    E.queries()["ddp_minhash_neardup"](spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()
    assert len(captured) == 0
