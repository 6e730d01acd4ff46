"""Physical-plan quality gates — the 100 TB design checks.

The reference hand-built pushdown through storage interfaces
(``hbase/HBaseFilterableTable.kt``, ``hbase/HBaseProjectableFilterableTable.kt``)
and A/B tested it with a config flavor (``hbase/HBaseTable.kt:198-207``).
Here the equivalents are Catalyst behaviors; these tests pin them so a
refactor can't silently regress the plan shape that makes queries viable
at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark.operators.flagship import revenue_by_nation
from kt_sql_hbase_ex_spark.operators.scans import (
    s02_filtered_scan,
    s03_projected_filtered_scan,
)
from kt_sql_hbase_ex_spark.operators.sort_limit import sl01_top_k
from kt_sql_hbase_ex_spark.operators.aggregates import a01_pricing_summary
from kt_sql_hbase_ex_spark.plans.explain import (
    formatted_plan,
    has_pushed_filter,
    read_schema_columns,
    uses_broadcast_join,
    uses_take_ordered,
)
from kt_sql_hbase_ex_spark.sources.catalog import load_table


def test_filter_pushdown_reaches_parquet(spark, sf_small):
    """S2 analog: predicates appear in PushedFilters, not only as a
    post-scan Filter (the reference shipped them to region servers;
    Parquet row-group skipping is our equivalent)."""
    df = s02_filtered_scan(spark, sf_small)
    assert has_pushed_filter(df, "l_quantity"), formatted_plan(df)


def test_projection_prunes_read_schema(spark, sf_small):
    """S3 analog: the Parquet ReadSchema must carry only referenced
    columns (scan.addColumn, HBaseProjectableFilterableTable.kt:28-33)."""
    df = s03_projected_filtered_scan(spark, sf_small)
    schemas = read_schema_columns(df)
    assert schemas, "no parquet scan found"
    for cols in schemas:
        assert set(cols) <= {"p_name", "p_retailprice", "p_size"}, cols


def test_flagship_broadcasts_dimensions(spark, sf_small):
    """Dimension joins must be broadcast — shuffling lineitem to join a
    25-row nation table would be the classic 100 TB anti-pattern."""
    df = revenue_by_nation(spark, sf_small)
    assert uses_broadcast_join(df)


def test_top_k_avoids_global_sort(spark, sf_small):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge), never a full range-partitioned sort."""
    df = sl01_top_k(spark, sf_small)
    assert uses_take_ordered(df)


def test_aggregate_has_partial_phase(spark, sf_small):
    """Group-by must map-side combine (two HashAggregate phases) so bytes
    shuffled scale with group count, not row count."""
    plan = formatted_plan(a01_pricing_summary(spark, sf_small))
    assert plan.count("HashAggregate") >= 2, plan


def test_pushdown_toggle_knob(spark, sf_small):
    """S6 analog: the reference's flavor experiment — with parquet
    pushdown disabled the same query still answers identically (the
    correctness-vs-performance separation the flavors demonstrated)."""
    on = s02_filtered_scan(spark, sf_small).count()
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try:
        off = s02_filtered_scan(spark, sf_small).count()
    finally:
        spark.conf.set("spark.sql.parquet.filterPushdown", "true")
    assert on == off


def test_point_lookup_prunes_row_groups(spark, sf_small):
    """S7/rowkey-filter analog: a PK equality predicate is pushed as an
    IsNotNull + EqualTo pair on the key column."""
    df = load_table(spark, sf_small, "customer").filter(F.col("c_custkey") == 42)
    assert has_pushed_filter(df, "c_custkey"), formatted_plan(df)


def test_asof_join_single_shuffle(spark, sf_small):
    """ts01: the union+window as-of join must shuffle once on user_id —
    no inequality join, no cross product."""
    from kt_sql_hbase_ex_spark.operators.timeseries import ts01_asof_join
    from kt_sql_hbase_ex_spark.plans.explain import count_shuffles, formatted_plan

    df = ts01_asof_join(spark, sf_small)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert count_shuffles(df) <= 2, plan  # hashpartition + AQE read


def test_range_join_is_equi_join(spark, sf_small):
    """ts02: the bucketed range join must plan as a hash/sort-merge equi
    join on (user_id, bin), never a nested-loop over the inequality."""
    from kt_sql_hbase_ex_spark.operators.timeseries import ts02_range_join
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    plan = formatted_plan(ts02_range_join(spark, sf_small))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_upsert_broadcasts_change_keys(spark, sf_small):
    """dml04: merging a statement-sized batch must broadcast the change
    keys (BroadcastHashJoin LeftAnti), never sort-merge-shuffle the base
    fact table."""
    from kt_sql_hbase_ex_spark.operators.dml import dml04_upsert_merge
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    plan = formatted_plan(dml04_upsert_merge(spark, sf_small))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_join_has_no_shuffle(spark, sf_small):
    """opt02: with broadcast disabled, the bucketed fact-fact join must
    plan as a sort-merge join with NO hash-partition exchange — bucket
    co-location replaces the shuffle."""
    from kt_sql_hbase_ex_spark.operators.optimize import opt02_bucketed_colocated_join
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(opt02_bucketed_colocated_join(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "SortMergeJoin" in plan, plan
    # at most the final groupBy may exchange; the join itself must not
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_partitioned_layout_prunes(spark, sf_small):
    """opt03: the day predicate must land in PartitionFilters (directory
    pruning), not just as a post-scan filter."""
    from kt_sql_hbase_ex_spark.operators.optimize import opt03_partition_pruned_layout
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    plan = formatted_plan(opt03_partition_pruned_layout(spark, sf_small))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "day" in pf[0] and "2024-01-05" in pf[0], plan


def test_cached_table_scans_memory(spark, sf_small):
    """opt04: after CACHE TABLE the plan must read InMemoryTableScan,
    not the parquet files."""
    from kt_sql_hbase_ex_spark.operators.optimize import opt04_cached_hot_table
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    plan = formatted_plan(opt04_cached_hot_table(spark, sf_small))
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, plan


def test_runtime_bloom_filter_injected(spark, sf_small):
    """opt05: the selective dimension predicate must be turned into a
    runtime bloom filter probed on the fact side's scan stage
    (BloomFilterMightContain), so non-matching fact rows die before the
    shuffle."""
    from kt_sql_hbase_ex_spark.operators.optimize import opt05_runtime_bloom_filter

    df = opt05_runtime_bloom_filter(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloomfiltermightcontain" in plan.lower() or "bloom_filter" in plan.lower(), plan


def test_zorder_layout_prunes(spark, sf_small):
    """opt06: the covering z-bucket IN-set must land in PartitionFilters
    (directory pruning on the interleaved key), with the exact box
    residual staying as a data filter."""
    from kt_sql_hbase_ex_spark.operators.optimize import (
        opt06_zorder_clustered_layout,
    )
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    plan = formatted_plan(opt06_zorder_clustered_layout(spark, sf_small))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "zbucket" in pf[0], plan


def test_simhash_blocking_is_equi_join(spark, sf_small):
    """d04: candidate generation must be the 4×8-bit chunk-blocking equi
    self-join — no all-pairs nested-loop/cartesian pairing anywhere in
    the plan (the quadratic form does not survive corpus scale)."""
    from kt_sql_hbase_ex_spark.functions.dedup import d04_simhash
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    plan = formatted_plan(d04_simhash(spark, sf_small))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_embedding_neardup_is_bucketed(spark, sf_small):
    """d05: candidates come from the LSH (table, bucket) equi self-join;
    the plan must contain no nested-loop/cartesian all-pairs join."""
    from kt_sql_hbase_ex_spark.functions.similarity import d05_embedding_neardup
    from kt_sql_hbase_ex_spark.plans.explain import formatted_plan

    plan = formatted_plan(d05_embedding_neardup(spark, sf_small))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_flagship_semi_join_reduction(spark, sf_small):
    """The ASIA predicate must reach customer/supplier as broadcast
    LeftSemi joins BEFORE the fact joins (semi-join reduction), so the
    big customer shuffle carries only qualifying nations."""
    plan = formatted_plan(revenue_by_nation(spark, sf_small))
    assert "LeftSemi" in plan, plan


def test_kv_source_pushdown_plan(spark, sf_small):
    """src02: pushed predicates (key range, mktsegment equality) vanish
    from the residual Filter, the residual (c_acctbal > 0) stays, and
    the scan's column list excludes the unrequested c_name qualifier."""
    from kt_sql_hbase_ex_spark.sources.kvstore import src02_kv_pushdown_scan

    plan = formatted_plan(src02_kv_pushdown_scan(spark, sf_small))
    assert "ktsql_kv" in plan, plan
    # key range + segment equality land in the scan's PushedFilters
    assert "GreaterThanOrEqual(c_custkey,101)" in plan, plan
    assert "LessThanOrEqual(c_custkey,900)" in plan, plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan
    assert "c_name" not in plan, plan  # qualifier never decoded
    assert "> 0.0" in plan, plan  # residual evaluated by Spark


def test_ivf_layout_dynamic_partition_pruning(spark, sf_small):
    """sim04: the probe join must prune the cell-partitioned layout at
    the scan via dynamic partition pruning — the query reads probed
    cells only, with no driver-side cell enumeration."""
    from kt_sql_hbase_ex_spark.functions.similarity import (
        sim04_ivf_partitioned_layout,
    )

    df = sim04_ivf_partitioned_layout(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan


def test_aqe_skew_join_splits_hot_partition(spark, sf_oracle):
    """opt07: with skew thresholds scaled to fixture bytes (production
    defaults are 256 MB-scale), the final adaptive plan must mark the
    join skew=true and read the hot partition via AQEShuffleRead skewed
    — the runtime split that un-serializes a hot-key stage.

    The shuffle-partition count is pinned to 4: at 8 partitions the five
    event types hash to three of them, Spark's skew median (the mean of
    the two middle sizes) is 0, and every non-empty partition counts as
    skewed whatever the hot key does, so the pin could not fail."""
    from kt_sql_hbase_ex_spark.operators.optimize import opt07_aqe_skew_join

    confs = {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = opt07_aqe_skew_join(spark, sf_oracle)
        df.collect()  # AQE decides from runtime shuffle stats
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan, plan
    # AQEShuffleReadExec prints "coalesced and skewed" when the same read
    # also coalesces the small partitions, and "skewed" when it does not
    assert re.search(r"AQEShuffleRead (coalesced and )?skewed", plan), plan


def test_chunking_is_shuffle_free(spark, sf_small):
    """tr09: token-window chunking must be one map-side projection —
    a shuffle in a chunker would serialize the whole corpus through
    the network for row-local arithmetic. (fan_out's round-robin
    repartition is the fixture-only parallelism shim — a no-op at
    scale — so only key-partitioned exchanges count as shuffles.)"""
    from kt_sql_hbase_ex_spark.functions.pipeline import tr09_token_window_chunking

    plan = formatted_plan(tr09_token_window_chunking(spark, sf_small))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_min_cost_supplier_top_k(spark, sf_small):
    """c19: the final ORDER BY ... LIMIT must plan as
    TakeOrderedAndProject, and the part dim must broadcast."""
    from kt_sql_hbase_ex_spark.operators.composite import c19_min_cost_supplier

    df = c19_min_cost_supplier(spark, sf_small)
    assert uses_take_ordered(df), formatted_plan(df)
    assert uses_broadcast_join(df), formatted_plan(df)


def test_surprisal_broadcasts_vocabulary(spark, sf_small):
    """t10: the vocabulary-frequency table joins back onto postings as
    a broadcast — shuffling the postings by term a second time would
    double the heaviest shuffle in the pipeline."""
    from kt_sql_hbase_ex_spark.functions.text import t10_unigram_surprisal

    plan = formatted_plan(t10_unigram_surprisal(spark, sf_small))
    assert "BroadcastHashJoin" in plan, plan


def test_sessionize_single_shuffle(spark, sf_small):
    """ev01: lag/cumsum window + per-session rollup must shuffle events
    ONCE on user_id — the (user_id, session_seq) grouping keys are a
    superset of the window's partitioning, so EnsureRequirements must
    not insert a second exchange."""
    from kt_sql_hbase_ex_spark.operators.events_analytics import ev01_sessionize
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan

    plan = simple_plan(ev01_sessionize(spark, sf_small))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_funnel_single_event_shuffle(spark, sf_small):
    """ev02: the K-step funnel must shuffle the event table ONCE (the
    collect_list groupBy) — never one aggregate+join chain per step —
    and run the step state machine JVM-side (no BatchEvalPython)."""
    from kt_sql_hbase_ex_spark.operators.events_analytics import ev02_funnel
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan

    plan = simple_plan(ev02_funnel(spark, sf_small))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_scd2_and_cdc_never_shuffle_base(spark, sf_small):
    """dml06/dml07: statement-sized change batches must broadcast into
    the base (diff probe + touched-key anti-join) — a sort-merge join
    here would shuffle the whole dimension/fact for a handful of rows.
    dml06's probe executes inside its checkpoint, so its broadcast
    shape is pinned on the scd2_probe helper directly."""
    from kt_sql_hbase_ex_spark.operators.dml import (
        dml06_scd2_history,
        dml07_cdc_apply,
        scd2_probe,
    )
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    for fn in (dml06_scd2_history, dml07_cdc_apply):
        plan = simple_plan(fn(spark, sf_small))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    base = load_table(spark, sf_small, "customer")
    ch = base.limit(3).select(
        *[F.col(c).alias(f"ch_{c}") for c in ("c_custkey", "c_name")]
    )
    probe_plan = simple_plan(scd2_probe(base, ch))
    assert "BroadcastHashJoin" in probe_plan, probe_plan
    assert "SortMergeJoin" not in probe_plan, probe_plan


def test_session_paths_single_event_shuffle(spark, sf_small):
    """ev04: session assignment + transition lag must reuse the same
    user_id hash partitioning (the lag window gets only a re-Sort, no
    exchange) — one event-level exchange; the other two exchanges are
    |types|²-row matrix operations (transition aggregate + per-from
    normalization window), constant-sized at any corpus scale."""
    from kt_sql_hbase_ex_spark.operators.events_analytics import ev04_session_paths
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan

    plan = simple_plan(ev04_session_paths(spark, sf_small))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_interval_overlap_broadcasts_promos(spark, sf_small):
    """j11: the promo dimension must broadcast — the fact side never
    shuffles for an interval-overlap against a statement-sized window
    set (nested-loop over a 3-row build is a per-row constant)."""
    from kt_sql_hbase_ex_spark.operators.joins import j11_interval_overlap_join
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan

    plan = simple_plan(j11_interval_overlap_join(spark, sf_small))
    assert "SortMergeJoin" not in plan, plan
    assert "Broadcast" in plan, plan


def test_rfm_cuts_broadcast_and_single_user_shuffle(spark, sf_small):
    """ev07: the quartile cut row must broadcast back onto per-user
    metrics (no re-shuffle), and events shuffle once on user_id — the
    no-global-ntile design the docstring claims."""
    from kt_sql_hbase_ex_spark.operators.events_analytics import ev07_rfm_segments
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan

    plan = simple_plan(ev07_rfm_segments(spark, sf_small))
    # per_user is localCheckpointed (one event aggregate feeds both the
    # cuts and the assignment), so at most its own exchange appears
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan
    assert "Broadcast" in plan, plan
    assert "rangepartitioning" not in plan, plan  # no global sort/ntile


def test_phrase_search_filters_terms_before_join(spark, sf_small):
    """t11's scale contract: the positional-postings self-join must see
    only the two query terms' postings — the term equality filters sit
    BELOW the join (and reach the generator output), so shuffle volume
    is ∝ matched postings, never the full postings table."""
    from kt_sql_hbase_ex_spark.functions.text import (
        PHRASE_TERMS,
        t11_phrase_search,
    )

    df = t11_phrase_search(spark, sf_small)
    plan = formatted_plan(df)
    # each join input carries its term-equality Filter condition (the
    # condition renders as `(term#N = customer)`) ...
    for term in PHRASE_TERMS:
        assert f"= {term})" in plan, plan
    # ... below a hash join on doc_id (the term filters make the b-side
    # postings broadcast-small; an unfiltered-postings join would have
    # no per-term Filter conditions at all)
    assert "BroadcastHashJoin" in plan, plan


def test_search_reads_persisted_index_with_pruning(spark, sf_small):
    """The Lucene-parity contract: the search queries read the persisted
    term-prefix-partitioned postings index and scan ``documents`` ZERO
    times at query time, and the index seek itself prunes at the
    DIRECTORY level to the query terms' prefixes (PartitionFilters) —
    the seek the reference's HBase-stored Lucene files provided. (t14's
    postings read sits behind a localCheckpoint — one materialization
    feeds its three consumers — so its pruning is asserted on the seek
    helper's own plan, which is the exact subtree the checkpoint ran.)"""
    from kt_sql_hbase_ex_spark.functions.text import (
        BM25_TERMS,
        PHRASE_TERMS,
        T14_TERMS,
        t11_phrase_search,
        t12_bm25_search,
        t14_boolean_phrase_rank,
    )
    from kt_sql_hbase_ex_spark.functions.text_index import (
        ensure_text_index,
        read_postings,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    for fn in (t11_phrase_search, t12_bm25_search, t14_boolean_phrase_rank):
        assert "documents.parquet" not in executed_plan(fn(spark, sf_small))

    idx = ensure_text_index(spark, sf_small)
    for terms, want in (
        (PHRASE_TERMS, "IN (c,j)"),
        (BM25_TERMS, "IN (c,h,j)"),
        (T14_TERMS, "IN (c,j)"),
    ):
        plan = executed_plan(read_postings(spark, idx, terms))
        pf = [l for l in plan.splitlines() if "PartitionFilters: [term_pfx" in l]
        assert pf and all(want in l for l in pf), plan


def test_native_session_window_merges_in_aggregate(spark, sf_small):
    """ev09's contract: sessions come from MergingSessions inside a
    two-phase aggregate (map-side partials, ONE user_id shuffle) — no
    analytic-window pass, no join."""
    from kt_sql_hbase_ex_spark.operators.events_analytics import (
        ev09_native_session_window,
    )

    plan = (
        ev09_native_session_window(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MergingSessions" in plan, plan
    assert "partial_min" in plan, plan  # map-side combine ran
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles == 1, plan


def test_reconciliation_preaggregates_below_join(spark, sf_small):
    """qa03's contract: lineitem reduces to order grain (two-phase sum)
    BEFORE joining the header — the join input carries one long per
    order, never line rows. The aggregate must appear on the join's
    build/stream side, not above it."""
    from kt_sql_hbase_ex_spark.operators.quality import (
        qa03_header_detail_reconciliation,
    )

    plan = (
        qa03_header_detail_reconciliation(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    join_at = plan.index("Join")
    # a partial per-order sum exists below the join in the operator tree
    assert "partial_sum" in plan[join_at:], plan
    assert "l_orderkey" in plan[join_at:], plan


#: Queries whose single-partition window input is PROVABLY BOUNDED by
#: construction — the only sanctioned exception to the sweep ban below.
#: Every entry must say why the windowed relation cannot scale with data.
BOUNDED_WINDOW_OK = {
    # windows over the ≤HIST_BUCKETS-row (12) post-aggregate histogram
    "a15_histogram",
    # windows over one row per source (~tens) after the groupBy(source)
    "tr07_domain_mixture",
    # quota apportionment windows over the same one-row-per-source
    # post-aggregate (~tens); the per-DOCUMENT rank is striped, not
    # windowed — only the tiny allocation relation is
    "tr14_temperature_mixture",
    # global ROW_NUMBER over an input filtered to ≤100 keys beforehand
    "ddl04_surrogate_keys",
}


#: max executed-plan scans of ONE table a registered query may carry.
#: Legitimate designs reach 3-4 (independent aggregation shapes over the
#: same table: row-local agg + key groupBy + anti-join in qa01; assign
#: pass + rerank fetch in the ANN family; scalar subqueries). Beyond
#: that it is almost always the re-expansion bug this guard exists for:
#: a small multiply-consumed intermediate whose lineage re-inlines the
#: scan at every reference (dml06 hit SEVENTEEN customer scans before
#: round 5 materialized its statement-sized probe).
MAX_SAME_TABLE_SCANS = 4


def test_sweep_plan_invariants(spark, sf_small):
    """ONE pass over every registered batch query's executed plan, three
    structural guards:

    1. No Window fed by an ``Exchange SinglePartition`` over an
       unbounded relation (round-4 verdict task #7) — the
       one-task-holds-the-corpus shape that killed t12/tr04 in round 4.
       Bounded forms (a window above a Limit/TakeOrderedAndProject, or
       an input bounded by construction and allowlisted above) pass.
    2. No table scanned more than MAX_SAME_TABLE_SCANS times in one
       plan (the round-5 multi-scan audit, made standing).
    3. No ``BatchEvalPython`` anywhere — row-at-a-time Python UDFs are
       banned from the engine (Arrow-batched ``ArrowEvalPython`` /
       mapInPandas are the only Python paths).

    Streaming queries are excluded: their returned DataFrame is a
    memory-sink scan (the stateful plan runs inside the drain), and
    building them here would re-run every drain for no plan signal.
    Scope note: the scan count covers every source the executed
    operator TREE prints (fixture tables, derived layouts, bucketed
    tables — keyed by the scan location's last path segment); scalar
    subqueries execute as separate subplans that ``toString`` does not
    include."""
    import os
    import re
    from collections import Counter

    from kt_sql_hbase_ex_spark import registry
    from kt_sql_hbase_ex_spark.plans.explain import (
        executed_plan,
        has_unbounded_global_window,
    )

    # Spark abbreviates scan Location metadata at maxMetadataStringLength
    # (default 100 chars) — long checkout paths would truncate the path
    # mid-way and silently zero the scan counts. Pin it high for the
    # sweep and PROVE non-vacuousness below.
    len_key = "spark.sql.maxMetadataStringLength"
    old_len = spark.conf.get(len_key, None)
    spark.conf.set(len_key, "4096")
    window_offenders, scan_offenders, python_offenders = [], [], []
    total_scans = 0
    try:
        for name, rq in sorted(registry.all_queries().items()):
            if name.startswith("st"):
                continue
            df = rq.fn(spark, sf_small)
            plan = executed_plan(df)
            if has_unbounded_global_window(df) and name not in BOUNDED_WINDOW_OK:
                window_offenders.append(name)
            locations = re.findall(
                r"Location: \w+\(\d+ paths?\)\[(file:[^,\]]+)", plan
            )
            scans = Counter(
                os.path.basename(loc.rstrip("/")) for loc in locations
            )
            total_scans += sum(scans.values())
            hot = {t: n for t, n in scans.items() if n > MAX_SAME_TABLE_SCANS}
            if hot:
                scan_offenders.append((name, hot))
            if "BatchEvalPython" in plan:
                python_offenders.append(name)
    finally:
        if old_len is None:
            spark.conf.unset(len_key)
        else:
            spark.conf.set(len_key, old_len)
    # the scan counter actually counted something — a regex/metadata
    # drift that zeroes it must fail loudly, not pass vacuously
    assert total_scans > 100, f"scan audit went vacuous: {total_scans}"
    assert not window_offenders, (
        f"unbounded single-partition windows: {window_offenders}"
    )
    assert not scan_offenders, f"repeated-scan blowups: {scan_offenders}"
    assert not python_offenders, (
        f"row-at-a-time Python UDFs: {python_offenders}"
    )


def test_window_detector_rejects_limit_inside_join_input(spark, sf_small):
    """The guard's boundedness rule is SPINE-only: a Limit inside one
    input of a join must NOT bound the join's output — a global window
    over `big LEFT JOIN (limited)` still scales with the big side and
    must be flagged."""
    from pyspark.sql import Window as W

    from kt_sql_hbase_ex_spark.plans.explain import has_unbounded_global_window
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    big = load_table(spark, sf_small, "documents")
    limited = big.orderBy("doc_id").limit(5).select("doc_id", F.col("lang").alias("l2"))
    joined = big.join(limited, "doc_id", "left")
    bad = joined.withColumn("r", F.row_number().over(W.orderBy("doc_id")))
    assert has_unbounded_global_window(bad)
    # while a limit on the SPINE (above the join) still bounds
    good = joined.orderBy("doc_id").limit(7).withColumn(
        "r", F.row_number().over(W.orderBy("doc_id"))
    )
    assert not has_unbounded_global_window(good)
    # a limit BELOW an explode bounds input rows, not the expanded set —
    # when the expanded relation is distributed (repartition makes the
    # SinglePartition exchange explicit in the plan), the guard must
    # flag the collapse despite the limit further down the spine
    exploded = (
        big.orderBy("doc_id")
        .limit(5)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .repartition(8)
    )
    bad2 = exploded.withColumn("r", F.row_number().over(W.orderBy("tok")))
    assert has_unbounded_global_window(bad2)


def test_bm25_topk_avoids_global_window(spark, sf_small):
    """t12's round-4 defect stays dead: the top-k cut plans as
    TakeOrderedAndProject and the only window ranks the K surviving
    rows (bounded), so the detector sees no unbounded global window."""
    from kt_sql_hbase_ex_spark.functions.text import t12_bm25_search
    from kt_sql_hbase_ex_spark.plans.explain import (
        executed_plan,
        has_unbounded_global_window,
    )

    df = t12_bm25_search(spark, sf_small)
    assert "TakeOrderedAndProject" in executed_plan(df), executed_plan(df)
    assert not has_unbounded_global_window(df), executed_plan(df)


def test_token_shards_stripe_without_global_window(spark, sf_small):
    """tr04's round-4 defect stays dead: the global rank comes from the
    range exchange + pid-local windows + broadcast offsets — the plan
    has no SinglePartition exchange at all, and the offset join
    broadcasts."""
    from kt_sql_hbase_ex_spark.functions.pipeline import (
        tr04_token_balanced_shards,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(tr04_token_balanced_shards(spark, sf_small))
    assert "Exchange SinglePartition" not in plan, plan
    assert "Broadcast" in plan, plan


def test_time_range_window_single_shuffle(spark, sf_small):
    """w11's contract: one user_id exchange feeding a RangeFrame window
    — the trailing-hour frame never becomes a self-join or a second
    shuffle."""
    from kt_sql_hbase_ex_spark.operators.windows import w11_time_range_window

    plan = (
        w11_time_range_window(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "RangeFrame" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_ab_lift_single_user_shuffle_no_joins(spark, sf_small):
    """ev11's contract: events collapse in ONE user-keyed aggregate and
    both arms come from a conditional one-row rollup — no join chain,
    no per-arm pass (the only SinglePartition exchange carries the
    partial-agg rows of the final one-row rollup)."""
    from kt_sql_hbase_ex_spark.operators.events_analytics import ev11_ab_test_lift
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan

    plan = simple_plan(ev11_ab_test_lift(spark, sf_small))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_drift_monitor_one_pass_broadcast_totals(spark, sf_small):
    """qa04's contract: both periods fold into one conditional
    map-side-combined aggregate (never a scan per period) and the
    period totals broadcast back onto the bucket-cardinality relation."""
    from kt_sql_hbase_ex_spark.operators.quality import qa04_distribution_drift
    from kt_sql_hbase_ex_spark.plans.explain import simple_plan

    plan = simple_plan(qa04_distribution_drift(spark, sf_small))
    # the corpus is folded into the checkpointed bucket relation ONCE —
    # both consumers (totals, shares) read the materialized RDD, so the
    # final plan carries no parquet scan at all
    assert plan.count("FileScan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # one-row totals
    assert "SortMergeJoin" not in plan, plan


def test_blocked_entity_match_is_equi_join(spark, sf_small):
    """d13's contract (round-6): candidate generation is an EQUI-JOIN on
    the (slot, segment) blocking key — never a cross join of probes ×
    dimension — and the dimension is scanned once. Recall parity vs the
    unblocked d12 form is proven by the oracle gate itself (d13's
    oracle IS the unblocked computation); here both registered queries
    are additionally asserted row-identical."""
    from kt_sql_hbase_ex_spark.functions.dedup import (
        d12_fuzzy_entity_match,
        d13_blocked_entity_match,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    df = d13_blocked_entity_match(spark, sf_small)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the blocking equi-join
    assert plan.count("customer.parquet") == 1, plan

    blocked = {tuple(r) for r in df.collect()}
    unblocked = {tuple(r) for r in d12_fuzzy_entity_match(spark, sf_small).collect()}
    assert blocked == unblocked  # zero recall loss on the fixture


def test_node_name_strips_codegen_stage_marker():
    """Executed plans print codegen'd nodes as '*(2) HashAggregate(...)'
    — the ancestor-walk matcher must resolve the NAME through the stage
    marker, or codegen'd Aggregate/Join ancestors would silently stop
    stopping the walk (round-6 review finding)."""
    from kt_sql_hbase_ex_spark.plans.explain import _node_name

    assert _node_name("+- *(2) HashAggregate(keys=[x])") == "HashAggregate"
    assert _node_name(":  +- *(5) SortMergeJoin [a], [b]") == "SortMergeJoin"
    assert _node_name("   +- Window [row_number()]") == "Window"
    assert _node_name("+- WindowGroupLimit [x]") == "WindowGroupLimit"
    assert _node_name("*(1) Project [a]") == "Project"


def test_doc_update_query_reads_only_the_index(spark, sf_small):
    """t15's contract: after the update/delete batch, term stats come
    from the index layout alone — the executed plan scans postings (+
    tombstones) but NEVER the documents table (the t12 zero-corpus-scan
    rule extended to the mutation path)."""
    from kt_sql_hbase_ex_spark.functions.text_index import t15_index_doc_update
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(t15_index_doc_update(spark, sf_small))
    assert "documents.parquet" not in plan, plan
    assert "postings" in plan, plan
    # the tombstone mask is a broadcast, never a shuffle join
    assert "SortMergeJoin" not in plan, plan


def test_classifier_filter_is_one_map_side_pass(spark, sf_small):
    """tr13's contract: model inference is a single projection — no
    aggregate/join exchange anywhere (the only allowed exchange is
    fan_out's round-robin input widening, which disappears at scale)."""
    from kt_sql_hbase_ex_spark.functions.pipeline import (
        tr13_classifier_quality_filter,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(tr13_classifier_quality_filter(spark, sf_small))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_band_store_probe_prunes_bucketed_bands(spark, sf_oracle):
    """The band store's probe join must (a) build on the broadcast
    BATCH side — never the history — and (b) prune the bucketed
    stored-bands scan via dynamic partition pruning, so probe cost
    scales with touched buckets, not store size. Asserted on the
    candidate-generation join itself (the registered query
    materializes it behind a localCheckpoint, which hides the scan
    from the final plan)."""
    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.functions.dedup import (
        INCREMENTAL_SPLIT_ID,
        N_BANDS,
        _band_bucket,
        _band_key_spark,
        _band_store_dirs,
        ensure_band_store,
        fan_out,
        signatures_of,
    )
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    root = ensure_band_store(spark, sf_oracle)
    bands_dir, _ = _band_store_dirs(root)
    batch = fan_out(load_table(spark, sf_oracle, "documents")).filter(
        F.col("doc_id") >= INCREMENTAL_SPLIT_ID
    )
    bbands = (
        signatures_of(batch)
        .select(
            F.col("doc_id").alias("doc_new"),
            F.explode(
                F.array(*[_band_key_spark(b) for b in range(N_BANDS)])
            ).alias("band_key"),
        )
        .withColumn("bkb", _band_bucket())
    )
    hist = spark.read.parquet(bands_dir).select(
        F.col("doc_id").alias("doc_old"), "band_key", "bkb"
    )
    j = (
        F.broadcast(bbands)
        .join(hist, ["bkb", "band_key"])
        .select("doc_new", "doc_old")
        .distinct()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan
    assert "BuildLeft" in plan, plan  # the batch is the build side


def test_span_probe_broadcast_size_guard(spark, sf_small):
    """The duplicated-window probe (tr15/tr16) is size-guarded
    (round-9): under the budget the set broadcasts (no extra shuffle of
    the window relation); above it — forced here with a zero budget —
    the probe falls back to a shuffled join on the already-hashed key
    with NO broadcast node, and both paths return identical rows."""
    from kt_sql_hbase_ex_spark.functions.dedup import (
        _span_windows,
        probe_duplicated_spans,
    )
    from kt_sql_hbase_ex_spark.sources.catalog import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "source", "text"
    )
    dup = (
        _span_windows(docs)
        .groupBy("gram_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram_hash")
    )
    wins = _span_windows(docs)

    fast = probe_duplicated_spans(wins, dup)
    plan_fast = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_fast, plan_fast

    slow = probe_duplicated_spans(wins, dup, max_broadcast=0)
    plan_slow = slow._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan_slow, plan_slow
    assert "BroadcastHashJoin" not in plan_slow, plan_slow

    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b and len(a) > 0



def test_pq_adc_has_no_cartesian_and_broadcasts_tables(spark, sf_small):
    """sim13's contract: the ADC scoring stage is hash joins against
    BROADCAST side tables (the 256-row codebook, the query distance
    tables) plus map-side min_by partials — never a cartesian product,
    and the final rerank joins the raw vectors through a broadcast of
    the shortlist-sized query set."""
    from kt_sql_hbase_ex_spark.functions.similarity import (
        sim13_pq_adc_topk,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(sim13_pq_adc_topk(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivfpq_composes_pruning_then_integer_scoring(spark, sf_small):
    """sim14's contract: the composed IVFADC plan keeps both stages'
    shapes — broadcast hash joins for probes/codebook/distance tables,
    no cartesian product anywhere (the only condition-free joins are
    the 16-row centroid and 256-row codebook broadcasts, which Spark
    plans as BroadcastNestedLoopJoin over bounded relations)."""
    from kt_sql_hbase_ex_spark.functions.similarity import (
        sim14_ivfpq_probe,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(sim14_ivfpq_probe(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_semantic_dedup_pair_join_is_cell_equi_join(spark, sf_small):
    """d18's contract: the near-dup pair generation is an EQUI-join on
    the cell id (the SemDeDup point — the quadratic term is bounded to
    within-cell blocks), never a cartesian product; the only
    condition-free join is the 16-row broadcast centroid table."""
    from kt_sql_hbase_ex_spark.functions.similarity import (
        d18_semantic_dedup,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(d18_semantic_dedup(spark, sf_small))
    assert "CartesianProduct" not in plan, plan


def test_pq_store_probe_reads_persisted_tables(spark, sf_small):
    """sim16's contract (and, since round 11, sim13/14/15's serving
    shape): the PQ serving plan reads the PERSISTED store — the live
    code-table generation appears as a FileScan in the executed plan
    (ADC never re-derives codes from raw vectors) — with broadcast
    hash joins and no cartesian product anywhere."""
    import os

    from kt_sql_hbase_ex_spark.functions.similarity import (
        _pq_codes_dir,
        ensure_pq_store_grown,
        sim16_pq_store_probe,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    root = ensure_pq_store_grown(spark, sf_small)
    plan = executed_plan(sim16_pq_store_probe(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    live_codes = os.path.basename(_pq_codes_dir(root))
    assert live_codes in plan, (live_codes, plan)


def test_filtered_ann_predicate_pushes_into_membership_scan(spark, sf_small):
    """sim18's contract: the metadata predicate lands in the
    cell-partitioned membership FileScan as a parquet PushedFilter
    (In(label, ...)) — candidates are label-pruned at the storage
    layer before any ADC work, never by a post-scan filter over the
    whole membership; and the composed plan stays broadcast-joined
    with no cartesian product."""
    import re

    from kt_sql_hbase_ex_spark.functions.similarity import (
        sim18_filtered_ann,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(sim18_filtered_ann(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the assign/ scan must carry the label filter in PushedFilters
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(label" in p or "EqualTo(label" in p for p in pushed), plan


def test_versioned_asof_scan_pushes_bounds_into_scans(spark, sf_small):
    """src21's contract: the time bound (__ts <= T) AND the rowkey
    bound composed on top both reach every parquet scan as
    PushedFilters — they push THROUGH the per-key window because it
    partitions on the key — and the only shuffle is that window (no
    join, no cartesian)."""
    import re

    from kt_sql_hbase_ex_spark.sources.kvstore import (
        src21_kv_versioned_asof_scan,
    )
    from kt_sql_hbase_ex_spark.plans.explain import executed_plan

    plan = executed_plan(src21_kv_versioned_asof_scan(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    data_scans = [p for p in pushed if "c_custkey" in p or "__ts" in p]
    assert data_scans, plan
    for p in data_scans:
        assert "LessThanOrEqual(__ts" in p, p
        assert "GreaterThanOrEqual(c_custkey,1)" in p, p
