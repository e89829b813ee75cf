"""Physical-plan assertions: the 100 TB checklist, enforced in CI.

Correctness tests prove the small-SF answer; these prove the PLAN is the one
you'd want on a 1000-executor cluster — filters reach the parquet scan,
small dimensions broadcast, column pruning holds, and narrow pipelines pay
zero shuffles. A regression here is a performance bug even if results match.
"""

from __future__ import annotations

from kitkat_spark.plans import (
    broadcast_join_count,
    has_pushed_filters,
    plan_facts,
    shuffle_count,
    wholestage_codegen_count,
)
from kitkat_spark.plans.explain import explain_str, read_schema_columns
from kitkat_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_scan_filter_pushdown_and_pruning(spark):
    df = QUERIES["q_scan_filter"](spark, SF)
    assert has_pushed_filters(df, "l_shipdate", "l_quantity")
    # column pruning: the scan must not read all 16 lineitem columns
    (cols,) = read_schema_columns(df)
    assert len(cols) <= 6, f"scan reads too many columns: {cols}"
    assert shuffle_count(df) == 0  # narrow pipeline: scan->filter->project


def test_broadcast_join_uses_broadcast(spark):
    df = QUERIES["q_broadcast_join"](spark, SF)
    assert broadcast_join_count(df) >= 1
    facts = plan_facts(df)
    assert facts["sortmerge_joins"] == 0, "dim joins must not sort-merge"


def test_hash_join_pushes_join_filters(spark):
    df = QUERIES["q_hash_join"](spark, SF)
    facts = plan_facts(df)
    # orders⋈customer keys: IsNotNull pushed to both scans
    assert any("custkey" in p.lower() for p in facts["pushed_filters"])


def test_consume_pipeline_is_shuffle_free(spark):
    """EP2 parity path: deagg+decompress+render must stay a narrow map —
    1 shard -> 1 task with zero data movement (streaming/pipeline.py)."""
    from kitkat_spark.streaming import ConsumeOptions, consume
    from tests.test_streaming import _mk_records, _plain

    records = _mk_records(spark, [_plain(b"x\n", seq="1")])
    out = consume([records], ConsumeOptions(position="trim_horizon", verbose=True))
    assert shuffle_count(out) == 0


def _run_plan_nodes(spark, query_id: str) -> list[tuple[str, str]]:
    """(name, description) of every physical node, cached plans included,
    of the SQL executions a streaming run made, read from the SQL status
    store (its executions carry the query id in their description)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 50), min(n, 50))
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if query_id in (e.description() or ""):
            nodes = store.planGraph(e.executionId()).allNodes()
            out += [(nodes.apply(j).name(), nodes.apply(j).desc()) for j in range(nodes.size())]
    return out


def _assert_one_python_node_no_exchange(spark, q) -> None:
    nodes = _run_plan_nodes(spark, str(q.id))
    arrow = [d for name, d in nodes if name == "ArrowEvalPython"]
    assert len(arrow) == 1 and "kinesis_decode_udf" in arrow[0], arrow
    assert not [name for name, _ in nodes if "Exchange" in name]


def _mixed_source(spark, tmp_path) -> str:
    from tests.test_sinks import _mixed_rows, _write

    rows, _ = _mixed_rows()
    _write(spark, rows, str(tmp_path / "src"))
    return str(tmp_path / "src")


def test_dlq_batch_decodes_each_record_once(spark, tmp_path):
    """consume_with_dlq decodes once (streaming/sinks.py): KPL
    deaggregation and zlib inflate run in ONE ArrowEvalPython node, and the
    batch pays zero shuffles. The good write executes the micro-batch plan
    (the foreachBatch frame wraps its RDD), so both plans count as its path;
    the write itself only renders the persisted rows."""
    from kitkat_spark.streaming import replay_stream
    from kitkat_spark.streaming.sinks import consume_with_dlq

    q = consume_with_dlq(
        replay_stream(spark, _mixed_source(spark, tmp_path)),
        *(str(tmp_path / d) for d in ("good", "dlq", "ckpt")),
        compression="zlib",
    )
    assert q.awaitTermination(180)
    _assert_one_python_node_no_exchange(spark, q)


def test_consume_tail_batch_has_one_python_node(spark, tmp_path):
    """The plain consume path (consume_transform with zlib into a file
    sink) crosses into Python once per micro-batch: one ArrowEvalPython
    node, zero shuffles."""
    from kitkat_spark.streaming import replay_stream
    from kitkat_spark.streaming.pipeline import consume_transform

    q = (
        consume_transform(replay_stream(spark, _mixed_source(spark, tmp_path)), compression="zlib")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    _assert_one_python_node_no_exchange(spark, q)


def test_agg_group_partial_aggregation(spark):
    """Map-side combine: exactly one shuffle for a single groupBy, with
    partial aggregation below the Exchange (the bit that makes a 100 TB
    groupBy shuffle only one pre-aggregated row per key per task)."""
    from kitkat_spark.plans.explain import explain_str

    df = QUERIES["q_agg_group"](spark, SF)
    assert shuffle_count(df) <= 1
    assert "partial_sum" in explain_str(df, "simple")


def test_window_rank_single_shuffle(spark):
    df = QUERIES["q_window_rank"](spark, SF)
    # partitionBy shuffle only; no extra exchanges from sloppy composition
    assert shuffle_count(df) <= 2
    # the rank<=k filter must push into a PARTIAL WindowGroupLimit below
    # the exchange — per-partition top-k heads cross the wire, not every
    # group member (the grouped-top-k scale lever; Spark 3.5+)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_sort_limit_is_topk_not_global_sort(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject — a per-
    partition top-k + single merge, not a full global sort (which would
    range-shuffle 100 TB)."""
    from kitkat_spark.plans.explain import explain_str

    df = QUERIES["q_sort_limit"](spark, SF)
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_text_analysis_zero_shuffle_scan(spark):
    """Per-doc text stats are a narrow map; only the final stats agg may
    shuffle (and only once)."""
    df = QUERIES["q_text_analysis"](spark, SF)
    assert shuffle_count(df) <= 1


def test_mjoin_revenue_pushdown_and_topk(spark):
    """TPC-H Q3 shape: all three filters reach their scans; top-10 must plan
    as TakeOrderedAndProject (per-partition heap), never a global sort."""
    from kitkat_spark.plans.explain import explain_str

    df = QUERIES["q_mjoin_revenue"](spark, SF)
    assert has_pushed_filters(df, "c_mktsegment", "o_orderdate", "l_shipdate")
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan


def test_mjoin_region_revenue_broadcasts_dims(spark):
    """TPC-H Q5 shape: nation/region joins must broadcast at every scale."""
    df = QUERIES["q_mjoin_region_revenue"](spark, SF)
    assert broadcast_join_count(df) >= 2
    assert has_pushed_filters(df, "o_orderdate", "r_name")


def test_scalar_batteries_are_shuffle_free(spark):
    """Datetime + conditional batteries are pure codegen map pipelines."""
    for name in ("q_datetime_funcs", "q_conditional_funcs"):
        df = QUERIES[name](spark, SF)
        assert shuffle_count(df) == 0, name
        assert wholestage_codegen_count(df) >= 1, name


def test_knn_classify_corpus_never_shuffled_for_join(spark):
    """The query set is broadcast: no exchange below the join on the corpus
    side (shuffles appear only for the two windows/vote aggregation)."""
    df = QUERIES["q_knn_classify"](spark, SF)
    assert broadcast_join_count(df) >= 1


def test_nation_volume_broadcasts_all_dims(spark):
    """TPC-H Q7 shape: customer/supplier/nation x2 all broadcast — the fact
    may sort-merge only against orders (the other fact)."""
    df = QUERIES["q_nation_volume"](spark, SF)
    facts = plan_facts(df)
    assert broadcast_join_count(df) >= 4
    assert facts["sortmerge_joins"] <= 1


def test_promo_revenue_pushes_month_filter(spark):
    """TPC-H Q14 shape: the ship-month range must reach the lineitem scan;
    part broadcasts; single aggregation shuffle."""
    df = QUERIES["q_promo_revenue"](spark, SF)
    assert has_pushed_filters(df, "l_shipdate")
    assert broadcast_join_count(df) >= 1


def test_disjunctive_join_stays_equi_keyed(spark):
    """TPC-H Q19 shape: the OR-of-ANDs must NOT force a cartesian — the join
    keys on partkey with the disjunction as a residual filter."""
    from kitkat_spark.plans.explain import explain_str

    df = QUERIES["q_disjunctive_join"](spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert broadcast_join_count(df) >= 1


def test_small_qty_revenue_single_fact_pass(spark):
    """TPC-H Q17 shape: decorrelated to a window — the brand filter list
    broadcasts (semi join) and lineitem shuffles exactly once (the window
    partitionBy), never rescanned for the per-part average."""
    df = QUERIES["q_small_qty_revenue"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 2  # window partitionBy + final 1-row agg


def test_idle_customers_customer_side_never_shuffles(spark):
    """TPC-H Q22 shape: scalar threshold broadcasts, anti-join build side is
    the orders key set; the only exchange is the final 25-group agg."""
    df = QUERIES["q_idle_customers"](spark, SF)
    facts = plan_facts(df)
    assert facts["sortmerge_joins"] == 0


def test_repetition_filter_is_narrow_map(spark):
    """Quality filters must stay embarrassingly parallel: zero shuffles."""
    df = QUERIES["q_repetition_filter"](spark, SF)
    assert shuffle_count(df) == 0
    assert wholestage_codegen_count(df) >= 1


def test_label_centroid_partial_aggregation(spark):
    """The N x D exploded stream must partial-aggregate map-side: one
    exchange, with partial sums below it."""
    from kitkat_spark.plans.explain import explain_str

    df = QUERIES["q_label_centroid"](spark, SF)
    assert shuffle_count(df) == 1
    assert "partial_sum" in explain_str(df, "simple")


def test_expensive_hash_subtrees_not_reinlined(spark):
    """Regression guard for the CollapseProject / PushDownPredicate
    re-inlining pathology (hit twice: q_winnow_fingerprint at 16 md5
    copies, jaccard_pairs at 21 xxhash64 copies — each a 2-11x slowdown
    with the oversized filter falling off codegen). The expensive
    hash-stream subtree must appear a bounded number of times in the
    physical plan; the materialization boundaries keep it there. Caches
    that earlier tests materialized print their plan twice; explain_str
    reads each once."""
    bounds = {
        "q_winnow_fingerprint": ("md5(", 4),
        "q_ngram_jaccard": ("xxhash64(", 8),
        "q_dedup_clusters": ("xxhash64(", 8),
        "q_incremental_dedup": ("md5(", 4),
    }
    for name, (needle, cap) in bounds.items():
        plan = explain_str(QUERIES[name](spark, SF))
        n = plan.count(needle)
        assert n <= cap, f"{name}: {n} {needle} subtrees in plan (cap {cap})"


def test_plan_reads_the_same_after_its_cache_and_itself_ran(spark):
    """An adaptive plan that has run prints a Final and an Initial tree;
    explain_str keeps one, so counts do not depend on what ran before."""
    from pyspark.sql import functions as F

    cached = (
        spark.range(100)
        .select((F.col("id") % 7).alias("k"), F.xxhash64("id").alias("h"))
        .groupBy("k")
        .agg(F.max("h").alias("m"))
        .persist()
    )

    def plan():
        keys = spark.range(50).select((F.col("id") % 7).alias("k"))
        return keys.join(cached, "k").groupBy("k").agg(F.xxhash64("k").alias("h"))

    def counts(df):
        return shuffle_count(df), explain_str(df).count("xxhash64(")

    fresh = counts(plan())
    cached.count()
    ran = plan()
    ran.collect()
    assert counts(ran) == fresh
    cached.unpersist()


def test_decontaminate_bench_side_filter_pushed_down(spark):
    """q_decontaminate must derive each join side from its OWN filtered
    scan: the doc_id predicates reach the parquet reader, so the benchmark
    branch reads ~|eval set| rows at any corpus size. Filtering above a
    shared repartition blocked pushdown and full-scanned + re-shingled the
    corpus once per branch (caught by the round-5 plan sweep)."""
    plan = (
        QUERIES["q_decontaminate"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LessThan(doc_id,20)" in plan, "bench-side predicate not pushed to scan"
    assert "GreaterThanOrEqual(doc_id,20)" in plan, "corpus-side predicate not pushed"


def test_column_profile_branches_are_column_pruned(spark):
    """Each per-column branch must read ONLY its column (columnar scans make
    k single-column reads cost the bytes of one full-width read), and the
    plan must NOT go through RewriteDistinctAggregates' Expand — the wide
    composite grouping key it builds measured 4.8x slower at sf0.1."""
    df = QUERIES["q_column_profile"](spark, SF)
    scans = read_schema_columns(df)
    assert len(scans) == 6, f"expected one pruned scan per column: {scans}"
    assert all(len(cols) == 1 for cols in scans), f"branch reads extra columns: {scans}"
    facts = plan_facts(df)
    assert facts["python_udf_nodes"] == 0
    assert "Expand" not in explain_str(df, "simple"), "wide-key Expand crept back"


def test_span_dedup_single_dedup_shuffle(spark):
    """Span fan-out is a narrow Generate; the only wide stages are the
    fingerprint window and the per-doc rollup (2 shuffles), plus AQE reads.
    A groupBy+join-back formulation would add a third."""
    df = QUERIES["q_span_dedup"](spark, SF)
    facts = plan_facts(df)
    assert facts["shuffles"] <= 2, f"span dedup shuffles: {facts['shuffles']}"
    assert facts["python_udf_nodes"] == 0


def test_zorder_buckets_bound_both_dimensions(spark):
    """The data-skipping property itself: every 256-z-run bucket is a 16x16
    Morton tile, so BOTH dimensions span <= 16 values per bucket — a linear
    sort on one key would leave the other dimension spanning ~the full 256.
    This is what makes footer min/max stats prunable for either predicate."""
    rows = QUERIES["q_zorder_cluster"](spark, SF).collect()
    assert len(rows) > 1
    for r in rows:
        assert r["max_pk"] - r["min_pk"] <= 15, r
        assert r["max_sk"] - r["min_sk"] <= 15, r
    df = QUERIES["q_zorder_cluster"](spark, SF)
    facts = plan_facts(df)
    assert facts["python_udf_nodes"] == 0
    assert facts["shuffles"] <= 1, "one map-side-combinable bucket agg only"


def test_train_manifest_minimal_shuffles(spark):
    """The composed pipeline end must not multiply shuffles: one fingerprint
    window, one per-shard window, plus the split/shard projection (codegen)
    — the sizing count is a separate cheap job, not a plan stage."""
    df = QUERIES["q_train_manifest"](spark, SF)
    facts = plan_facts(df)
    assert facts["shuffles"] <= 3, facts
    assert facts["python_udf_nodes"] == 0


def test_skew_join_auto_plain_branch_dominates(spark):
    """The production auto-threshold salted join on uniform data: the hot
    list is (near-)empty, so the registered query's plan shape is the plain
    join + agg — 1 post-sizing shuffle, with the hot-list relations
    broadcast (never shuffled). PLAN_FACTS pins 1 shuffle / 5 broadcasts;
    allow slack but fail on a 4-shuffle blanket-salting regression."""
    df = QUERIES["q_skew_join_auto"](spark, SF)
    facts = plan_facts(df)
    assert facts["shuffles"] <= 2, facts
    assert facts["broadcast_joins"] >= 1
    assert facts["sortmerge_joins"] == 0


def test_column_profile_approx_hll_is_single_wide_agg(spark):
    """The approx side must be ONE wide aggregation (HLL partials), not an
    Expand fan-out: no Expand node may feed the approx_count_distinct agg.
    (The exact verification branches union separately; the approx subtree
    itself stays Expand-free.)"""
    from kitkat_spark.sources import load_table
    from pyspark.sql import functions as F

    from kitkat_spark.operators.profiling import PROFILE_COLS

    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value", "props", "ts"
    ).withColumn("ts", F.col("ts").cast("string"))
    approx = ev.agg(
        *[F.approx_count_distinct(c, rsd=0.02).alias(c) for c in PROFILE_COLS]
    )
    plan = explain_str(approx)
    assert "Expand" not in plan, "HLL profile must not Expand the scan"
    assert shuffle_count(approx) <= 1


def test_normalize_window_stays_jvm(spark):
    """The recommended normalization formulation: one shuffle (the window
    partition), zero Python/Arrow nodes — the 28x lesson, pinned."""
    df = QUERIES["q_normalize_window"](spark, SF)
    facts = plan_facts(df)
    assert facts["shuffles"] == 1, facts
    assert facts["python_udf_nodes"] == 0, facts


def test_curriculum_output_is_range_partitioned(spark):
    """q_curriculum's writer layout MUST plan as RangePartitioning — the
    one partitioner built for total order (contiguous rank runs per
    partition), and the one partitioner no other query pins. Also: the
    global rank must come from the histogram-offset composition, never a
    whole-corpus single-partition sort — the ONLY unpartitioned window
    allowed in this plan is the <=~200-row bin-offset cumulative sum."""
    df = QUERIES["q_curriculum"](spark, SF)
    plan = explain_str(df)
    assert "rangepartitioning(curriculum_rank" in plan.lower(), plan[:800]
    facts = plan_facts(df)
    assert facts["python_udf_nodes"] == 0, facts


def test_reservoir_sample_uses_window_group_limit(spark):
    """The per-group rank filter must plan as WindowGroupLimit: each map
    task keeps only its local top-k per group BEFORE the exchange (the
    distributed reservoir merge). Without it the shuffle carries the whole
    corpus to the window sort."""
    df = QUERIES["q_reservoir_sample"](spark, SF)
    plan = explain_str(df)
    assert "WindowGroupLimit" in plan, plan[:800]
    facts = plan_facts(df)
    assert facts["shuffles"] == 1, facts


# ------------------------------------------------------ round-14 operators
def test_fertility_drift_aggregates_before_window(spark):
    """The per-source window must run AFTER the combinable groupBy: two
    shuffles total (partial-agg exchange + window repartition), no joins,
    no Python UDF — the corpus never reaches the window operator."""
    df = QUERIES["q_fertility_drift"](spark, SF)
    facts = plan_facts(df)
    assert facts["shuffles"] <= 2, facts
    assert facts["sortmerge_joins"] == 0 and facts["broadcast_joins"] == 0
    assert facts["python_udf_nodes"] == 0, "tokenization must stay codegen'd"


def test_ann_index_delete_drop_list_broadcasts(spark):
    """The tombstone wave is corpus-fraction-small: both the flag join and
    the survivor anti join must consume it as a broadcast, never a
    corpus-side shuffle on vec_id."""
    df = QUERIES["q_ann_index_delete"](spark, SF)
    s = explain_str(df)
    assert "BroadcastHashJoin" in s
    import re

    # every join keyed on vec_id (flag + anti) must be broadcast: no
    # SortMergeJoin node may carry vec_id keys
    for m in re.finditer(r"SortMergeJoin \[([^\]]*)\]", s):
        assert "vec_id" not in m.group(1), m.group(0)


def test_stream_passjoin_probe_expansion_is_constant(spark):
    """The PassJoin probe expansion (q_passjoin_dedup and q_stream_passjoin
    both run dedup.passjoin_probe) must be a broadcast of the ~800 constant
    (delta, i, d) triples — the per-doc expansion is map-side, with no
    shuffle between the doc scan and the substring hashing."""
    from kitkat_spark.operators.dedup import passjoin_probe, passjoin_triples
    from kitkat_spark.sources import load_table

    n = len(passjoin_triples())
    assert 700 <= n <= 900, n  # k=12 multi-match-aware window
    docs = load_table(spark, SF, "documents").select("doc_id", "text", "n_chars")
    probe = passjoin_probe(spark, docs)
    assert shuffle_count(probe) == 0
    assert broadcast_join_count(probe) == 1
