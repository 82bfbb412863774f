"""Physical-plan audits: the scale claims in SCALE.md, machine-checked.

These tests pin the PLAN SHAPE, not timings: rule filters must reach the
parquet scan as pushed filters, small-side joins must broadcast, and no
contract query may degenerate into a non-broadcast cartesian product.
A regression that silently turns a broadcast join into a sort-merge join
or strips pushdown passes unit tests but fails here.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_nodes(plan) -> list:
    """Every ``FileSourceScanExec`` of an executed JVM plan, through
    adaptive wrappers and query stages."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            out.append(node)
        elif name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


class TestPushdown:
    def test_rule_filter_reaches_parquet_scan(self, spark):
        from dynamicqueryengine_spark import TableRegistry, apply_rule

        reg = TableRegistry(spark, SF_DIR)
        rule = {
            "Conditions": {
                "Conditions": [
                    {
                        "Property": "c_acctbal",
                        "Operator": "GreaterThan",
                        "Value": 1000,
                    },
                    {"Property": "c_mktsegment", "Operator": "NotNull"},
                ]
            }
        }
        plan = _physical(apply_rule(reg["customer"], rule))
        assert "PushedFilters: [" in plan
        # the NotNull predicate is directly translatable -> must be pushed
        assert "IsNotNull(c_mktsegment)" in plan

    def test_rule_projection_prunes_columns(self, spark):
        from dynamicqueryengine_spark import TableRegistry, apply_rule

        reg = TableRegistry(spark, SF_DIR)
        rule = {
            "Conditions": {
                "Conditions": [
                    {"Property": "c_custkey", "Operator": "GreaterThan", "Value": 0}
                ]
            }
        }
        df = apply_rule(reg["customer"], rule).select("c_custkey")
        plan = _physical(df)
        # pruned scan: ReadSchema must not contain the wide comment column
        assert "c_comment" not in plan


class TestJoinStrategies:
    @pytest.mark.parametrize(
        "query_name",
        ["join_revenue_by_nation", "decontaminate_flags", "docs_length_trim"],
    )
    def test_small_side_broadcasts(self, spark, query_name):
        df = entry_mod.queries()[query_name](spark, SF_DIR)
        plan = _physical(df)
        assert "BroadcastHashJoin" in plan, f"{query_name} lost its broadcast"

    def test_decontaminate_semi_join(self, spark):
        df = entry_mod.queries()["decontaminate_flags"](spark, SF_DIR)
        assert "LeftSemi" in _physical(df)

    @pytest.mark.parametrize(
        "query_name",
        [
            "dedup_ngram_jaccard",
            "tfidf_keywords",
            "dedup_minhash_lsh",
            "events_asof_join",
            "events_range_join",
            "docs_repetition_filter",
        ],
    )
    def test_no_cartesian_product(self, spark, query_name):
        df = entry_mod.queries()[query_name](spark, SF_DIR)
        plan = _physical(df)
        assert "CartesianProduct" not in plan, (
            f"{query_name} degenerated into a cartesian product"
        )


class TestBucketedJoin:
    def test_bucketed_tables_join_without_exchange(self, spark, tmp_path_factory):
        """Two tables bucketed on the join key must sort-merge join with NO
        Exchange on either side — the co-located-join contract that makes
        repeated fact-to-fact joins shuffle-free at scale."""
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.registry import load_table
        from dynamicqueryengine_spark.sources.writers import write_bucketed_table

        docs = load_table(spark, SF_DIR, "documents")
        stats = docs.select("doc_id", F.length("text").alias("n"))
        write_bucketed_table(docs.select("doc_id", "lang"), "b_docs", ["doc_id"], 8, ["doc_id"])
        write_bucketed_table(stats, "b_stats", ["doc_id"], 8, ["doc_id"])
        try:
            joined = (
                spark.table("b_docs")
                .hint("merge")
                .join(spark.table("b_stats"), "doc_id")
            )
            plan = _physical(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join still shuffles"
            assert joined.count() == docs.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS b_docs")
            spark.sql("DROP TABLE IF EXISTS b_stats")


class TestRound3PlanShapes:
    def test_pq_query_side_broadcasts(self, spark):
        """PQ ADC search: the query side (with its LUTs) must broadcast —
        the corpus code scan never shuffles before the top-k window."""
        df = entry_mod.queries()["ann_topk_pq"](spark, SF_DIR)
        assert "BroadcastNestedLoopJoin" in _physical(df) or (
            "BroadcastHashJoin" in _physical(df)
        )

    def test_packing_has_no_global_window(self, spark):
        """Sequence packing must never sort the corpus in ONE task: every
        Exchange in the plan must be hash/round-robin — a SinglePartition
        exchange would be the naive global-window formulation. (The only
        ordered window runs over the buckets-row stats table, which AQE
        may legally coalesce, so we pin the absence of a rangepartitioning
        exchange over the full row stream instead.)"""
        df = entry_mod.queries()["docs_pack_sequences"](spark, SF_DIR)
        plan = _physical(df)
        assert "rangepartitioning" not in plan.lower()

    def test_cms_sketch_is_aggregated_mapside(self, spark):
        """CMS build must show a partial aggregate below the exchange
        (map-side combine) — the property that bounds the shuffle by the
        sketch size, not the token stream."""
        from dynamicqueryengine_spark.functions.cms import _words, cms_build
        from dynamicqueryengine_spark.sources.registry import load_table

        sketch = cms_build(
            _words(load_table(spark, SF_DIR, "documents"), "text"), "w", 4, 64
        )
        plan = _physical(sketch)
        assert "partial_count" in plan or "HashAggregate" in plan

    def test_quantize_long_single_generate_chain(self, spark):
        """The long-form quantize plan must contain the inline Generate
        barrier (qvec computed once) and no Filter re-evaluating the
        struct expression (the _outer variants skip it)."""
        df = entry_mod.queries()["embed_quantize_int8"](spark, SF_DIR)
        plan = _physical(df)
        assert plan.count("Generate") >= 2  # inline barrier + posexplode
        # the emptiness filter would show up as size(...) > 0
        assert "size(" not in plan.split("Generate")[0]

    def test_cluster_assign_join_is_not_forced_broadcast(self, spark):
        """cluster_assign's doc->component attach must be a plain join in
        the LOGICAL plan (no ResolvedHint/broadcast forced by us). AQE may
        still choose broadcast at runtime from measured sizes — that's the
        point."""
        from dynamicqueryengine_spark.functions.cluster import cluster_assign
        from dynamicqueryengine_spark.sources.registry import load_table
        from pyspark.sql import functions as F

        docs = load_table(spark, SF_DIR, "documents")
        pairs = docs.limit(10).select(
            F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
        )
        out = cluster_assign(docs, pairs)
        logical = out._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in logical


class TestRound4PlanShapes:
    def test_salted_join_joins_on_salt(self, spark):
        """The salted-join demo must actually join on the salt column —
        the point of the query is exercising the spread, not a broadcast
        that happens to be row-equivalent."""
        df = entry_mod.queries()["join_salted_skew"](spark, SF_DIR)
        plan = _physical(df)
        assert "_salt" in plan

    def test_gapfill_grid_is_generated_not_joined(self, spark):
        """The hourly grid must come from an executor-side Generate
        (sequence+explode), never a cartesian/range join against a
        calendar table."""
        df = entry_mod.queries()["events_gapfill_ffill"](spark, SF_DIR)
        plan = _physical(df)
        assert "Generate explode(sequence" in plan
        assert "CartesianProduct" not in plan

    def test_transition_matrix_single_user_shuffle(self, spark):
        """One hashpartitioning exchange on user_id feeds the lead()
        window; the (src,dst) aggregation is bounded by |types|² and no
        rangepartitioning (global sort) may appear."""
        df = entry_mod.queries()["events_transition_matrix"](spark, SF_DIR)
        plan = _physical(df)
        assert "rangepartitioning" not in plan.lower()
        assert plan.lower().count("hashpartitioning(user_id") >= 1

    def test_bloom_probe_broadcasts_bitmap(self, spark):
        """The Bloom probe must broadcast the ≤512-row bitmap — the
        corpus gram stream never wide-shuffles before the membership
        test."""
        df = entry_mod.queries()["docs_bloom_decontaminate"](spark, SF_DIR)
        assert "BroadcastHashJoin" in _physical(df)

    def test_bpe_encode_is_shuffle_free(self, spark):
        """Tokenizer apply is a pure scan-time projection: the only
        allowed exchange is the deliberate roundrobin spread() that
        re-partitions the single-file input — no keyed or ranged
        shuffle anywhere."""
        df = entry_mod.queries()["docs_bpe_encode"](spark, SF_DIR)
        plan = _physical(df).lower()
        assert "hashpartitioning" not in plan
        assert "rangepartitioning" not in plan

    def test_ewma_has_no_raw_stream_window(self, spark):
        """The EWMA fold must be a groupBy aggregation (partial_ allowed)
        with NO window over the raw event stream — no rangepartitioning
        anywhere."""
        df = entry_mod.queries()["events_ewma_user"](spark, SF_DIR)
        plan = _physical(df)
        assert "rangepartitioning" not in plan.lower()
        assert "Window" not in plan


class TestRound5PlanShapes:
    def test_rollup_is_single_scan_expand(self, spark):
        """ROLLUP must plan as ONE scan feeding an Expand — never a
        per-grouping-set union of scans."""
        df = entry_mod.queries()["agg_rollup_returnflag_status"](spark, SF_DIR)
        plan = _physical(df)
        assert "Expand" in plan
        assert plan.count("Scan parquet") == 1

    def test_grouping_sets_single_expand(self, spark):
        """Arbitrary GROUPING SETS must plan exactly like ROLLUP/CUBE:
        one joined pass feeding an Expand into a single hash aggregate —
        never a union of per-grouping GROUP BYs (which would re-scan and
        re-join the fact table per set)."""
        df = entry_mod.queries()["agg_grouping_sets_mixed"](spark, SF_DIR)
        plan = _physical(df)
        assert "Expand" in plan
        assert plan.count("Scan parquet") == 2  # lineitem + orders, once each

    def test_exists_chain_plans_as_semi_and_anti(self, spark):
        """The Q21-shape EXISTS/NOT-EXISTS chain must decorrelate to
        hash-based semi/anti joins — no nested-loop fallback."""
        df = entry_mod.queries()["join_sole_returned_supplier"](spark, SF_DIR)
        plan = _physical(df)
        assert "LeftSemi" in plan
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_fuzzy_dedup_blocks_are_equijoined(self, spark):
        """Blocked edit-distance dedup must join on the block key (hash
        equijoin) — levenshtein runs only inside blocks, never all-pairs."""
        df = entry_mod.queries()["dedup_fuzzy_edit_distance"](spark, SF_DIR)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ivfpq_scan_is_cell_equijoin(self, spark):
        """IVF-PQ's candidate scan must be a hash equijoin on the cell
        id — never the flat-PQ all-pairs BroadcastNestedLoopJoin."""
        df = entry_mod.queries()["ann_topk_ivfpq"](spark, SF_DIR)
        plan = _physical(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_pivot_bands_single_scan(self, spark):
        """The manual pivot must aggregate every band in ONE scan — no
        per-band rescan, no pivot column-discovery pass."""
        df = entry_mod.queries()["agg_pivot_discount_bands"](spark, SF_DIR)
        plan = _physical(df)
        assert plan.count("Scan parquet") == 1

    def test_runtime_bloom_filter_injects_on_selective_join(self, spark):
        """r5: with broadcast disabled (the both-sides-big regime), a
        selective dim filter must inject a runtime Bloom filter on the
        fact side — rows from non-matching orderkeys drop BEFORE the
        shuffle. This is the semi-join-reduction lever that, at 100 TB,
        cuts the exchanged bytes by the dim filter's selectivity."""
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.registry import load_table

        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            li = load_table(spark, SF_DIR, "lineitem")
            orders = load_table(spark, SF_DIR, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )
            plan = _physical(j)
            assert "bloom_filter_agg" in plan or "BloomFilter" in plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_dau_wau_has_no_nested_loop_join(self, spark):
        """r5: the trailing-week distinct must be the explode-to-covered-
        days equi-plan — a theta range join here plans as a
        BroadcastNestedLoopJoin testing every (day,user) activity row
        against EVERY day (|du|·|days| predicate evaluations), the one
        plan shape that dies at years-of-days × 10⁹ activity rows."""
        df = entry_mod.queries()["events_dau_wau"](spark, SF_DIR)
        plan = _physical(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Generate explode(sequence" in plan


class TestPartitionPruning:
    def test_partitioned_write_prunes_on_read(self, spark, tmp_path_factory):
        """Hive-style partitioned layout + a rule filter on the partition
        column must prune at PLANNING time: the scan's PartitionFilters
        carries the predicate and only the matching directory is read —
        the 2%-vs-100% scan lever for date/type-partitioned 100 TB
        tables."""
        from dynamicqueryengine_spark import apply_rule
        from dynamicqueryengine_spark.sources.registry import load_table
        from dynamicqueryengine_spark.sources.writers import write_parquet

        d = str(tmp_path_factory.mktemp("part") / "events_by_type")
        events = load_table(spark, SF_DIR, "events")
        write_parquet(events, d, partition_by=["event_type"])
        back = spark.read.parquet(d)
        rule = {
            "Conditions": {
                "Conditions": [
                    {
                        "Property": "event_type",
                        "Operator": "Equal",
                        "Value": "purchase",
                    }
                ]
            }
        }
        plan = _physical(apply_rule(back, rule))
        assert "PartitionFilters: [" in plan
        assert "event_type" in plan.split("PartitionFilters")[1].split("]")[0]


class TestMinhashPlanShape:
    def test_signatures_have_no_aggregate_exchange(self, spark):
        """r4: MinHash signatures are an Arrow map over the hash-set
        table — the 32-column hash-min groupBy (a full shingle-stream
        exchange) must not reappear."""
        from dynamicqueryengine_spark.functions.dedup import (
            minhash_signatures,
        )
        from dynamicqueryengine_spark.sources.registry import load_table

        sig = minhash_signatures(load_table(spark, SF_DIR, "documents"))
        plan = _physical(sig).lower()
        assert "hashpartitioning" not in plan
        assert "mapinpandas" in plan


class TestPeakConcurrency:
    def test_running_sum_is_bucketed_not_global(self, spark):
        """The sweep-line running sum over the 2·|sessions| delta stream
        must be the two-level prefix sum: the stream's window is keyed by
        the time-range bucket (hashpartitioning on _bkt), and the only
        single-partition exchange in the whole plan is the buckets-row
        stats window — never the full boundary stream (the r5 flagged
        scale-killer: one task absorbing every session at 10^9)."""
        df = entry_mod.queries()["events_peak_concurrency"](spark, SF_DIR)
        plan = _physical(df)
        assert "hashpartitioning(_bkt" in plan
        # a global running sum would plan as a window ORDERED by us with
        # no partition key: windowspecdefinition(us#... as its first arg
        assert "windowspecdefinition(us#" not in plan


class TestRound7PlanShapes:
    def test_q7_broadcasts_filtered_dims_no_cartesian(self, spark):
        """Q7: nation-pair-filtered supplier side must broadcast; the
        fact joins stay hash equijoins (no nested loop despite the
        supp<>cust residual inequality, which rides on the custkey
        equijoin)."""
        df = entry_mod.queries()["join_volume_shipping_q7"](spark, SF_DIR)
        plan = _physical(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q8_market_share_single_aggregate(self, spark):
        """Q8: the share is ONE aggregation pass (conditional sum /
        total sum) — no self-join of the joined fact and no second
        HashAggregate chain over it."""
        df = entry_mod.queries()["join_market_share_q8"](spark, SF_DIR)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # part/supplier/nation/region dims broadcast into the scan side
        assert plan.count("BroadcastHashJoin") >= 3

    def test_q16_not_in_plans_as_anti_join(self, spark):
        """Q16: the negative-balance supplier exclusion must be a
        broadcast LEFT ANTI join, not a per-row subquery."""
        df = entry_mod.queries()["agg_supplier_relationship_q16"](
            spark, SF_DIR
        )
        plan = _physical(df)
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_q17_threshold_join_is_equijoin(self, spark):
        """Q17: the decorrelated avg-quantity membership test must ride
        the partkey equijoin (filter AFTER join), never a theta join."""
        df = entry_mod.queries()["join_small_qty_revenue_q17"](spark, SF_DIR)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_time_decay_attribution_user_equijoin(self, spark):
        """Multi-touch attribution: purchases ⋈ touches must join on
        user_id (hash equijoin with the ts band as residual) — an
        unkeyed interval join would be a nested loop over every
        (purchase, touch) pair."""
        df = entry_mod.queries()["events_attribution_time_decay"](
            spark, SF_DIR
        )
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_streaks_have_no_global_window(self, spark):
        """Gaps-and-islands: every window partitions by user_id — a
        missing partition key would plan windowspecdefinition ordered
        over a SinglePartition exchange."""
        df = entry_mod.queries()["events_user_streaks"](spark, SF_DIR)
        plan = _physical(df)
        assert "SinglePartition" not in plan

    def test_cumshare_windows_partition_by_nation(self, spark):
        """The monthly cumulative share must window over the pre-
        aggregated (nation, month) rows with nation as partition key —
        no single-partition global sort."""
        df = entry_mod.queries()["window_nation_monthly_cumshare"](
            spark, SF_DIR
        )
        plan = _physical(df)
        assert "SinglePartition" not in plan
        assert "hashpartitioning(n_name" in plan

    def test_q19_disjunctive_pushdown_stays_equijoin(self, spark):
        """Q19: the OR-of-ANDs band predicate must not break the
        broadcast equijoin into a nested loop, and the part-side
        conjuncts common to all branches (brand/size ranges) must reach
        the part scan as pushed filters."""
        df = entry_mod.queries()["agg_disjunctive_bands_q19"](spark, SF_DIR)
        plan = _physical(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the brand IN (...) disjunction is extractable → pushed to part
        assert "PushedFilters" in plan

    def test_incremental_index_probe_is_banded_equijoin(self, spark):
        """The incremental MinHash probe must join delta signatures to
        the signature union ON (band, bucket) — a hash equijoin, never
        an all-pairs comparison of delta × corpus."""
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.functions import dedup as D
        from dynamicqueryengine_spark.sources.registry import load_table

        d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        base = d.filter(F.col("doc_id") % 4 != 0)
        delta = d.filter(F.col("doc_id") % 4 == 0)
        pairs = D.minhash_lsh_pairs_delta(
            d, D.minhash_signatures(base), delta, k=5, threshold=0.7
        )
        plan = _physical(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound9PlanShapes:
    def test_paragraph_dedup_chunking_is_map_side(self, spark):
        """Paragraph dedup: chunking must be Generate (explode) over the
        scan with NO shuffle before it — the only exchanges are the
        fingerprint groupBys and the per-doc rollup; the frequency join
        rides the fingerprint key (broadcast at this SF), never a
        cartesian."""
        df = entry_mod.queries()["docs_paragraph_dedup"](spark, SF_DIR)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Generate explode" in plan or "explode" in plan

    def test_lm_perplexity_joins_are_keyed(self, spark):
        """Bigram LM scoring: the model joins must be keyed on
        (prev, cur)/(prev) — the ONLY nested-loop in the plan is the
        single-row vocab-size scalar broadcast."""
        df = entry_mod.queries()["docs_lm_perplexity"](spark, SF_DIR)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        # single-row scalar crossJoins plan as BroadcastNestedLoopJoin;
        # the model joins themselves must be hash joins
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan

    def test_q11_per_part_exchange_is_reused(self, spark):
        """Q11 shape: the per-part aggregate feeds BOTH the HAVING
        branch and the grand total — AQE must plan the second branch as
        a ReusedExchange of the first (one physical lineitem pass), not
        re-derive it with a second fact scan."""
        df = entry_mod.queries()["agg_important_parts_q11"](spark, SF_DIR)
        df.collect()  # reuse is resolved in the final adaptive plan
        plan = _physical(df)
        assert "ReusedExchange" in plan
        assert "CartesianProduct" not in plan

    def test_bloom_skip_scan_reads_one_file(self, spark, tmp_path_factory):
        """The bloom-pruned vt read scans only the kept files: the file-key
        filter on the directory read skips the others at listing."""
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.versioned import (
            vt_read,
            vt_scan_plan,
            vt_write,
        )

        path = str(tmp_path_factory.mktemp("bloomplan") / "t")
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("user"),
        )
        vt_write(
            spark, path, df.repartition(6, "user"), bloom_cols=["user"]
        )
        sp = vt_scan_plan(path, predicate=("user", "=", "u77"))
        assert sp["files_kept"] < sp["files_total"]
        df = vt_read(spark, path, predicate=("user", "=", "u77"))
        df.collect()
        scans = _scan_nodes(df._jdf.queryExecution().executedPlan())
        assert scans
        for scan in scans:
            assert scan.metrics().apply("numFiles").value() <= sp["files_kept"]


class TestJsonExtract:
    def test_json_query_prunes_scan_to_two_columns(self, spark):
        """events_json_extract reads only (props, value) — a JSON
        extraction that dragged the whole row through the scan would
        defeat column pruning at 100 TB."""
        from dynamicqueryengine_spark.workloads.llm import (
            _events_json_extract,
        )

        plan = _physical(_events_json_extract(spark, SF_DIR))
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"props", "value"}
        assert "GetJsonObject" in plan or "get_json_object" in plan


class TestDeletionVectorPlan:
    """Merge-on-read reads must stay cheap: the DV filter is a BROADCAST
    hash anti-join (no shuffle, bounded by DV size) and predicate
    pushdown still reaches the parquet scan underneath it; a table
    without vectors pays nothing at all."""

    def test_small_dv_compiles_to_literal_filter_with_pushdown(
        self, spark, tmp_path
    ):
        """At or below _DV_LITERAL_MAX positions the vector is a plain
        codegen'd NOT-isin filter — no join, no broadcast frame (which
        alone costs ~0.4 s of driver overhead) — and predicate pushdown
        still reaches the scan."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
            vt_read,
            vt_write,
        )

        path = str(tmp_path / "t")
        df = spark.range(10000).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        plan = _physical(vt_read(spark, path, predicate=("id", "<", 100)))
        assert "Join" not in plan
        # the literal vector filter collapsed into the scan's Filter
        # (Catalyst inlined the key/pos columns) — the metadata row
        # index is referenced right in the filter condition
        assert "row_index" in plan
        assert "PushedFilters: [IsNotNull(id), LessThan(id,100)]" in plan

    def test_large_dv_uses_broadcast_anti_join(self, spark, tmp_path):
        """Above the literal cutover the vector applies as a BROADCAST
        hash LEFT ANTI join — never a shuffle."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
            vt_read,
            vt_write,
        )

        path = str(tmp_path / "t")
        df = spark.range(10000).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        vt_delete(
            spark, path, [("id", ">=", 0), ("id", "<", 300)], mode="dv"
        )
        plan = _physical(vt_read(spark, path))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_dv_free_table_reads_without_join_or_metadata(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read,
            vt_write,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path,
            spark.range(100).selectExpr("id", "concat('v', id) AS v"),
        )
        plan = _physical(vt_read(spark, path))
        assert "Join" not in plan
        assert "_vt_file_key" not in plan and "row_index" not in plan

    def test_dv_scan_splits_clean_files_out_of_the_join(
        self, spark, tmp_path
    ):
        """Only DV'd files pay the anti-join: with 1 of 4 files
        vectored, the plan is a Union of a scan of the 3 clean files
        and one joined scan — row positions and the join never touch
        the clean leg, so the read tax is DV'd-file-bytes, not
        table-bytes."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
            vt_read,
            vt_write,
        )

        path = str(tmp_path / "t")
        df = spark.range(10000).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        vt_delete(
            spark, path, [("id", ">=", 0), ("id", "<", 300)], mode="dv"
        )
        plan = _physical(vt_read(spark, path))
        assert plan.count("BroadcastHashJoin") == 1
        assert "Union" in plan


class TestSpreadFanOut:
    """``spread`` sizes its round-robin fan-out from the optimizer's byte
    estimate (floor 4); ``spread_pinned`` keeps the fixed fan-out of
    cluster parallelism that the code-frozen calibration probe
    assumes."""

    def test_tiny_frame_spreads_to_the_floor(self, spark):
        from dynamicqueryengine_spark.util import spread

        plan = _physical(spread(spark.range(0, 10, 1, 1), multiplier=4))
        assert "RoundRobinPartitioning(4)" in plan

    def test_estimate_fallback_is_logged(self, spark, caplog, monkeypatch):
        """Without a size estimate ``spread`` falls back to full fan-out
        and says so in one DEBUG record; the package adds no handler."""
        import logging

        from dynamicqueryengine_spark.util import spread

        class NoEstimate:
            def __init__(self, jdf):
                self._jdf = jdf

            def queryExecution(self):
                raise RuntimeError("no estimate")

            def __getattr__(self, name):
                return getattr(self._jdf, name)

        name = "dynamicqueryengine_spark.util"
        n = spark.sparkContext.defaultParallelism * 4
        with caplog.at_level(logging.DEBUG, logger=name):
            spread(spark.range(0, 10, 1, 1), multiplier=4)
            assert not [r for r in caplog.records if r.name == name]
            df = spark.range(0, 10, 1, 1)
            monkeypatch.setattr(df, "_jdf", NoEstimate(df._jdf))
            plan = _physical(spread(df, multiplier=4))
        assert f"RoundRobinPartitioning({n})" in plan
        (rec,) = [r for r in caplog.records if r.name == name]
        assert rec.levelno == logging.DEBUG
        assert "RuntimeError" in rec.getMessage()
        assert f"fan-out {n}" in rec.getMessage()
        assert logging.getLogger(name).handlers == []

    def test_pinned_spreads_to_parallelism(self, spark):
        from dynamicqueryengine_spark.util import spread_pinned

        n = spark.sparkContext.defaultParallelism * 4
        plan = _physical(
            spread_pinned(spark.range(0, 10, 1, 1), multiplier=4)
        )
        assert f"RoundRobinPartitioning({n})" in plan
