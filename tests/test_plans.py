"""Physical-plan regression guards: the properties that make these
operators scale (broadcasts, parquet pushdown, no accidental cartesian
products) are asserted so a refactor can't silently regress them.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import yc_data_proc_metadata_import_spark as engine

QUERIES = engine.queries()


def _plan(spark, sf_dir, key: str) -> str:
    df = QUERIES[key](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "key",
    ["join_broadcast", "join_star", "llm_sentiment", "llm_tfidf", "llm_topk_cosine"],
)
def test_small_side_broadcasts(spark, sf_dir, key):
    plan = _plan(spark, sf_dir, key)
    assert "Broadcast" in plan, f"{key}: expected a broadcast join\n{plan}"


@pytest.mark.parametrize("key", ["filter_basic", "flagship_pricing_summary"])
def test_filters_push_to_scan(spark, sf_dir, key):
    plan = _plan(spark, sf_dir, key)
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan, (
        f"{key}: filter did not reach the parquet scan\n{plan}"
    )


@pytest.mark.parametrize(
    "key",
    ["llm_dedup_near", "llm_dedup_ngram", "llm_dedup_simhash", "llm_sim_join_lsh"],
)
def test_dedup_paths_are_not_cartesian(spark, sf_dir, key):
    """The linear-shuffle near-dup designs must never plan a cartesian
    product — that would mean the blocking keys stopped being equi-join
    keys (the whole point of LSH/inverted-index structure)."""
    plan = _plan(spark, sf_dir, key)
    assert "CartesianProduct" not in plan, f"{key}: cartesian product!\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, f"{key}: BNL join!\n{plan}"


def test_tokenizer_never_runs_inside_a_filter_predicate(spark, sf_dir):
    """Regression guard for the lambda-inlining pushdown trap: a filter
    placed above the shingle/token projection gets pushed below the
    repartition by SUBSTITUTING the whole array expression into a per-row
    Filter predicate — re-running the regex tokenizer once per row (or,
    inlined into a transform lambda, once per element; measured 10x the
    stage cost). The dedup pipelines therefore only filter on cheap raw
    columns, and this test pins that: no optimized Filter node may
    contain the tokenizer.
    """
    from yc_data_proc_metadata_import_spark.llm.dedup import shingled

    frames = {
        "shingled": shingled(spark, sf_dir),
        "llm_dedup_near": QUERIES["llm_dedup_near"](spark, sf_dir),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if "Filter" in line and "split(" in line:
                raise AssertionError(
                    f"{name}: tokenizer inlined into a Filter predicate:\n{line}"
                )


def test_topk_per_group_is_two_phase(spark, sf_dir):
    """topk_per_group keys on 5-value c_mktsegment, which only scales
    because Catalyst plans the two-phase spelling: a Partial
    WindowGroupLimit below the exchange prunes every map task to <=k rows
    per segment, so the final per-segment sort sees k x n_tasks rows, not
    the whole table. Pin both phases so a rewrite can't regress it."""
    df = QUERIES["topk_per_group"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, f"no WindowGroupLimit:\n{plan}"
    assert "Partial" in plan, f"no map-side partial top-k phase:\n{plan}"


@pytest.mark.parametrize("key", ["win_ranking", "win_ntile", "win_distribution"])
def test_window_partition_keys_are_high_cardinality(spark, sf_dir, key):
    """Round-2 VERDICT: a window partitioned on a <=5-value column
    funnels ~1/3 of the table through ONE task's sort at scale. These
    keys now partition on o_custkey — pin that the window spec never
    regresses to a low-cardinality key."""
    df = QUERIES[key](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "Window" in l or "windowspec" in l]
    joined = "\n".join(win_lines)
    for low_card in ("o_orderpriority", "o_orderstatus"):
        assert low_card not in joined, (
            f"{key}: window partitioned on low-cardinality {low_card}:\n{joined}"
        )


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The whole point of bucketed tables: recurring joins/aggregates on
    the bucket key run with zero shuffles (bucket i zips with bucket i)."""
    QUERIES["bucketed_join_noshuffle"](spark, sf_dir)  # ensure tables exist
    plan = _plan(spark, sf_dir, "bucketed_join_noshuffle")
    assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan}"


def test_dpp_join_prunes_at_runtime(spark, sf_dir):
    """join_dpp_pruned's fact scan must carry a dynamicpruningexpression
    in its PartitionFilters — the runtime pruning injected from the
    filtered dimension side (the fact query itself has no partition
    predicate, so static pruning can't fire)."""
    df = QUERIES["join_dpp_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), (
        f"no dynamic partition pruning on the fact scan:\n{plan}"
    )


def test_partition_pruned_scan_skips_partitions(spark, sf_dir):
    """The status='F' predicate must prune at the directory level — the
    scan's partition filters must carry it (not just a post-scan filter)."""
    df = QUERIES["scan_partition_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_status_part" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0], f"no partition filter on the scan:\n{plan}"


def test_bloom_filter_reaches_probe_side(spark, sf_dir):
    """join_bloom_filtered's reason to exist: under the key's conf window
    the optimized plan must carry a bloom filter (might_contain) applied
    to the lineitem probe side, built from the filtered orders side."""
    from yc_data_proc_metadata_import_spark.operators.joins import (
        _BLOOM_CONFS,
        bloom_join_frame,
    )

    orig = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        plan = (
            bloom_join_frame(spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
    finally:
        for k, v in orig.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "bloom" in plan.lower(), f"no runtime bloom filter:\n{plan}"


def test_compaction_reduces_file_count(spark, sf_dir):
    """sink_compaction's reason to exist: the compacted copy must hold
    the same rows in strictly fewer files than the fragmented input."""
    import os

    from yc_data_proc_metadata_import_spark.sources.io import _fixture_dir

    QUERIES["sink_compaction"](spark, sf_dir).count()

    def n_parquet(d):
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    n_frag = n_parquet(_fixture_dir("frag_orders", sf_dir))
    n_comp = n_parquet(_fixture_dir("compact_orders", sf_dir))
    assert n_frag == 64, f"fragmented fixture expected 64 files, got {n_frag}"
    assert n_comp < n_frag / 8, f"compaction left {n_comp} files (from {n_frag})"


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir):
    """sink_zorder_cluster's reason to exist: the written files must (a)
    carry pairwise-disjoint z-ranges (range partition + in-partition sort
    actually clustered the layout) and (b) each span a NARROW slice of
    BOTH custkey and orderdate relative to the global span — the footer
    min/max property that lets a reader filtering on either dimension
    skip most files. A single-column sort would pass (b) only for its
    leading column; an unsorted write would fail both."""
    import os

    import pyarrow.parquet as pq

    from yc_data_proc_metadata_import_spark.sources.io import _fixture_dir

    QUERIES["sink_zorder_cluster"](spark, sf_dir).count()
    d = _fixture_dir("zorder_orders", sf_dir)
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) >= 8, f"expected >=8 range-partitioned files, got {len(files)}"

    stats = []  # per file: (z_min, z_max, ck_min, ck_max, dt_min, dt_max)
    for path in files:
        md = pq.read_metadata(path)
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        mins, maxs = {}, {}
        for rg in range(md.num_row_groups):
            for name in ("zval", "o_custkey", "o_orderdate"):
                st = md.row_group(rg).column(cols[name]).statistics
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
        stats.append(
            (mins["zval"], maxs["zval"], mins["o_custkey"], maxs["o_custkey"],
             mins["o_orderdate"], maxs["o_orderdate"])
        )

    stats.sort()
    for (_, z_hi, *_), (z_lo, *_) in zip(stats, stats[1:]):
        assert z_hi <= z_lo, "file z-ranges overlap — layout not clustered"

    ck_span = max(s[3] for s in stats) - min(s[2] for s in stats)
    dt_span = (max(s[5] for s in stats) - min(s[4] for s in stats)).days
    mean_ck = sum(s[3] - s[2] for s in stats) / len(stats)
    mean_dt = sum((s[5] - s[4]).days for s in stats) / len(stats)
    assert mean_ck < 0.6 * ck_span, f"custkey not clustered: {mean_ck}/{ck_span}"
    assert mean_dt < 0.6 * dt_span, f"orderdate not clustered: {mean_dt}/{dt_span}"


def test_repetition_score_single_exchange(spark, sf_dir):
    """llm_repetition_score: one explicit doc_id repartition must serve
    BOTH aggregations (hash(doc_id) clusters (doc_id, token) and doc_id
    groups alike) — a second Exchange means the pattern regressed."""
    import re

    plan = _plan(spark, sf_dir, "llm_repetition_score")
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    n_exchanges = sum(1 for n in nodes if n == "Exchange")
    assert n_exchanges == 1, f"expected 1 Exchange, found {n_exchanges}\n{plan}"


@pytest.mark.parametrize(
    "key", ["tpch_q7_volume_shipping", "tpch_q14_promo_revenue"]
)
def test_new_tpch_dims_broadcast(spark, sf_dir, key):
    """Q7's nation-filtered supplier/customer sides and Q14's part
    dimension must broadcast — a shuffle join on a dimension means the
    hint/shape regressed."""
    plan = _plan(spark, sf_dir, key)
    assert "BroadcastHashJoin" in plan, f"{key}: dimension not broadcast\n{plan}"


def test_kmeans_assign_is_join_free(spark, sf_dir):
    """The k-means ASSIGN stage scores against a driver-held literal
    codebook: the final assignment plan must contain no join at all —
    a join appearing means the codebook stopped being a literal and the
    map-only scale shape regressed."""
    plan = _plan(spark, sf_dir, "llm_kmeans_cluster")
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, f"llm_kmeans_cluster: unexpected {op}\n{plan}"


def test_incremental_dedup_single_hash_exchange_family(spark, sf_dir):
    """llm_dedup_incremental: corpus anti-lookup and batch keep-first
    window both key on the digest; no cartesian/BNL may appear and the
    join must stay an equi hash/sort-merge join."""
    plan = _plan(spark, sf_dir, "llm_dedup_incremental")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        f"llm_dedup_incremental: non-equi join shape\n{plan}"
    )


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """join_interval_overlap exists to demonstrate the bucketized
    spelling: the plan must contain a hash/sort-merge EQUI join on the
    bucket key, never a nested-loop over the raw interval predicate."""
    plan = _plan(spark, sf_dir, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"join_interval_overlap: interval join fell back to nested loop\n{plan}"
    )
    assert "Join" in plan, f"join_interval_overlap: no join at all?\n{plan}"


def test_sql_udf_scalar_inlines(spark, sf_dir):
    """fn_sql_udf's scalar function body is pure SQL, so it must inline
    into codegen — a BatchEvalPython/ArrowEvalPython node appearing
    means the definition fell back to a Python boundary."""
    plan = _plan(spark, sf_dir, "fn_sql_udf")
    assert "EvalPython" not in plan, f"SQL UDF fell back to Python\n{plan}"


def test_python_datasource_partition_planning(spark, sf_dir):
    """scan_python_datasource plans one InputPartition per synthetic
    sensor — reader parallelism must follow partitions()."""
    from yc_data_proc_metadata_import_spark.sources.io import _SYNTH_PARTS

    df = QUERIES["scan_python_datasource"](spark, sf_dir)
    assert df.rdd.getNumPartitions() == _SYNTH_PARTS


def test_scd2_apply_single_join(spark, sf_dir):
    """merge_scd2_apply: the close and pass-through branches must share
    ONE join on the merge key (localCheckpoint reuse) — a second
    Join node means the branches recompute it."""
    import re

    plan = _plan(spark, sf_dir, "merge_scd2_apply")
    n_joins = len(re.findall(r"\bJoin\w*\b", plan))
    assert n_joins <= 1, f"merge_scd2_apply: expected <=1 join, got {n_joins}\n{plan}"


def test_fuzzy_join_is_blocked_equi_join(spark, sf_dir):
    """join_fuzzy_levenshtein must plan the deletion-neighborhood
    blocking as an EQUI join on the variant key (round-5 VERDICT item
    3) — a BroadcastNestedLoopJoin/CartesianProduct means the blocking
    regressed to the O(n^2) theta join that dies at scale."""
    plan = _plan(spark, sf_dir, "join_fuzzy_levenshtein")
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"join_fuzzy_levenshtein: nested-loop join!\n{plan}"
    )
    assert "CartesianProduct" not in plan, (
        f"join_fuzzy_levenshtein: cartesian product!\n{plan}"
    )
    assert "Join" in plan, f"join_fuzzy_levenshtein: no join at all?\n{plan}"


def test_lateral_topn_decorrelates(spark, sf_dir):
    """join_lateral_topn: Catalyst must decorrelate the lateral LIMIT
    into a join + WindowGroupLimit (the topk_per_group shape) — a
    nested-loop or per-outer-row re-execution shape would die at scale."""
    plan = _plan(spark, sf_dir, "join_lateral_topn")
    assert "WindowGroupLimit" in plan, (
        f"lateral limit not decorrelated to a group-limit\n{plan}"
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"lateral join planned as nested loop\n{plan}"
    )


def test_html_strip_is_map_only(spark, sf_dir):
    """llm_html_strip must stay a zero-exchange, Python-free projection —
    boilerplate stripping at 100 TB is scan-bound or it's wrong."""
    plan = _plan(spark, sf_dir, "llm_html_strip")
    assert "Exchange" not in plan, f"unexpected shuffle\n{plan}"
    assert "EvalPython" not in plan, f"unexpected Python boundary\n{plan}"


def test_gopher_quality_single_exchange(spark, sf_dir):
    """llm_gopher_quality: per-doc signals are array expressions (no
    explode, no Python), so the whole rule battery is map-only; the only
    exchange is the low-cardinality source rollup."""
    import re

    plan = _plan(spark, sf_dir, "llm_gopher_quality")
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    n_exchanges = sum(1 for n in nodes if n == "Exchange")
    assert n_exchanges == 1, f"expected 1 Exchange, found {n_exchanges}\n{plan}"
    assert "EvalPython" not in plan, f"unexpected Python boundary\n{plan}"


_TPCH_SUITE = [
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_count",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_part_promotion",
    "tpch_q21_waiting_supplier",
    "tpch_q22_sales_opportunity",
]


@pytest.mark.parametrize("key", _TPCH_SUITE)
def test_tpch_suite_no_unbounded_nested_loop(spark, sf_dir, key):
    """Across the completed TPC-H suite, the only nested-loop joins
    allowed are single-row broadcast builds (scalar-subquery thresholds
    in Q11/Q15/Q22) — an unconstrained BNL/cartesian over a multi-row
    side means a decorrelation or equi-key extraction regressed."""
    plan = _plan(spark, sf_dir, key)
    assert "CartesianProduct" not in plan, f"{key}: cartesian!\n{plan}"
    if key not in (
        "tpch_q11_important_stock",
        "tpch_q15_top_supplier",
        "tpch_q22_sales_opportunity",
    ):
        assert "BroadcastNestedLoopJoin" not in plan, f"{key}: BNL!\n{plan}"


@pytest.mark.parametrize(
    "key",
    ["tpch_q2_min_cost_supplier", "tpch_q17_small_qty_revenue",
     "tpch_q18_large_volume", "tpch_q21_waiting_supplier"],
)
def test_tpch_correlated_shapes_scan_fact_once(spark, sf_dir, key):
    """The correlated-subquery adaptations (Q2 window-min, Q17
    window-avg) and the quantifier folds (Q18 single aggregate, Q21
    per-order aggregate) exist to scan lineitem ONCE — a second fact
    scan means the literal two-pass decorrelation crept back."""
    import re

    plan = _plan(spark, sf_dir, key)
    n = len(re.findall(r"Scan parquet[^\n]*\n(?:[^\n]*\n){0,3}?[^\n]*lineitem", plan))
    if n == 0:  # formatted-mode layout drift: fall back to path mentions
        n = plan.count("lineitem.parquet")
    assert n <= 1, f"{key}: lineitem scanned {n}x\n{plan}"


def test_tpch_q4_semi_join(spark, sf_dir):
    """Q4's EXISTS must run as a left-semi hash join with the lateness
    residual — not a full join + distinct."""
    plan = _plan(spark, sf_dir, "tpch_q4_order_priority")
    assert "LeftSemi" in plan, f"EXISTS did not plan as semi join\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_tpch_q19_single_join_with_pushdown(spark, sf_dir):
    """Q19's three disjuncts share the partkey equi-key: one hash join,
    and the derived single-side bounds must reach the parquet scans."""
    import re

    plan = _plan(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    # Details-section headers only — formatted mode also names each node
    # in the tree summary, which would double-count.
    joins = re.findall(r"\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)
    assert len(joins) == 1, f"expected one equi join, got {joins}\n{plan}"
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan, (
        f"derived disjunct bounds not pushed to scan\n{plan}"
    )


def test_join_hints_are_honored(spark, sf_dir):
    """join_hint_strategies' reason to exist: SHUFFLE_HASH must produce a
    ShuffledHashJoin and MERGE a SortMergeJoin — a silently-ignored hint
    is how a tuned job regresses unnoticed on an engine upgrade."""
    from yc_data_proc_metadata_import_spark.operators.joins import join_hint_plans

    hash_plan, merge_plan = join_hint_plans(spark, sf_dir)
    assert "ShuffledHashJoin" in hash_plan, f"SHUFFLE_HASH ignored\n{hash_plan}"
    assert "SortMergeJoin" in merge_plan, f"MERGE ignored\n{merge_plan}"
    assert "SortMergeJoin" not in hash_plan


def test_pagerank_iterates_on_checkpointed_edges(spark, sf_dir):
    """graph_pagerank: the 4-way edge-derivation pipeline must NOT appear
    in the returned plan — iterations read the localCheckpointed edge
    aggregate (lineage truncation), so the plan contains no parquet scan
    of lineitem/orders and only the per-iteration groupBy exchanges
    (without truncation the census showed 23 exchanges)."""
    import re

    plan = _plan(spark, sf_dir, "graph_pagerank")
    for fact in ("lineitem.parquet", "orders.parquet", "customer.parquet",
                 "supplier.parquet"):
        assert fact not in plan, (
            f"graph_pagerank: iteration lineage re-derives {fact}\n{plan}"
        )
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    n_exchanges = sum(1 for n in nodes if n == "Exchange")
    assert n_exchanges <= 4, f"expected <=4 Exchanges, found {n_exchanges}\n{plan}"


def test_dq_expectations_single_fact_aggregate(spark, sf_dir):
    """dq_expectations: the six single-table rules must ride ONE
    conditional-count aggregate — exactly two scans of lineitem may
    appear (the audit scan + the FK anti-join probe), never one scan per
    rule."""
    plan = _plan(spark, sf_dir, "dq_expectations")
    n_li_scans = plan.count("lineitem.parquet")
    assert n_li_scans <= 2, f"expected <=2 lineitem scans, found {n_li_scans}\n{plan}"


def test_weighted_median_single_shuffle(spark, sf_dir):
    """agg_weighted_median: both window frames and the post-filter
    row_number must reuse the one l_returnflag hash partitioning — a
    single Exchange in the plan."""
    import re

    plan = _plan(spark, sf_dir, "agg_weighted_median")
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    n_exchanges = sum(1 for n in nodes if n == "Exchange")
    assert n_exchanges == 1, f"expected 1 Exchange, found {n_exchanges}\n{plan}"


def test_funnel_no_event_collection(spark, sf_dir):
    """win_funnel: per-user state must stay scalar (conditional MIN
    aggregates) — no collect_list/sort-based event assembly and no
    nested-loop join may appear."""
    plan = _plan(spark, sf_dir, "win_funnel")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        f"win_funnel: non-equi join shape\n{plan}"
    )
    assert "collect_list" not in plan, f"win_funnel: event array assembled\n{plan}"


def test_cdc_chunking_map_only(spark, sf_dir):
    """llm_cdc_chunking: rolling-hash boundary detection + chunk
    explode must stay inside the scan stage — zero exchanges, zero
    Python workers (pure codegen HOFs)."""
    plan = _plan(spark, sf_dir, "llm_cdc_chunking")
    assert "Exchange" not in plan, f"unexpected shuffle\n{plan}"
    assert "Python" not in plan, f"unexpected Python boundary\n{plan}"


def test_streaks_single_key_partitioning(spark, sf_dir):
    """win_streaks: distinct, both windows, and both aggregates all key
    on user_id — nothing may plan a nested-loop join, and the exchange
    count stays at the 4 the shape needs (distinct, window, streak agg
    reuse, final join)."""
    import re

    plan = _plan(spark, sf_dir, "win_streaks")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    n_exchanges = sum(1 for n in nodes if n == "Exchange")
    assert n_exchanges <= 4, f"expected <=4 Exchanges, found {n_exchanges}\n{plan}"


def test_bfs_iterates_on_checkpointed_edges(spark, sf_dir):
    """graph_shortest_path: same lineage-truncation contract as
    PageRank — the returned plan reads the checkpointed edge aggregate,
    never the fact tables."""
    plan = _plan(spark, sf_dir, "graph_shortest_path")
    for fact in ("lineitem.parquet", "orders.parquet", "customer.parquet",
                 "supplier.parquet"):
        assert fact not in plan, (
            f"graph_shortest_path: iteration lineage re-derives {fact}\n{plan}"
        )


def test_cache_table_scans_memory(spark, sf_dir):
    """catalog_cache_table: the query through the cached view must read
    the in-memory columnar relation, not re-scan parquet."""
    plan = _plan(spark, sf_dir, "catalog_cache_table")
    assert "InMemory" in plan, f"no in-memory relation in plan\n{plan}"


def test_rebalanced_write_evens_file_sizes(spark, sf_dir):
    """sink_rebalanced_write: the written files must be few and
    even-sized — no file may exceed 3x the mean (the skew/tiny-file
    pathologies the REBALANCE hint exists to kill)."""
    import os

    from yc_data_proc_metadata_import_spark.sources.io import _fixture_dir

    QUERIES["sink_rebalanced_write"](spark, sf_dir).count()
    out = _fixture_dir("rebalanced_orders", sf_dir)
    sizes = [
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]
    assert sizes, "no parquet files written"
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 3 * mean, f"uneven files: {sorted(sizes)}"


def test_hard_negatives_broadcasts_queries(spark, sf_dir):
    """llm_hard_negatives: the query set must broadcast (corpus scanned
    once, no shuffle before the per-query top-k window)."""
    plan = _plan(spark, sf_dir, "llm_hard_negatives")
    assert "Broadcast" in plan, f"queries not broadcast\n{plan}"


def test_incremental_aggregate_no_base_rescan_in_delta(spark, sf_dir):
    """merge_incremental_aggregate: exactly the expected number of
    orders scans — one for the standing aggregate, two for the delta
    legs (all pruned); a per-rule or per-leg explosion means the delta
    pattern regressed."""
    plan = _plan(spark, sf_dir, "merge_incremental_aggregate")
    n = plan.count("orders.parquet")
    assert n <= 3, f"expected <=3 orders scans, found {n}\n{plan}"


def test_no_unpartitioned_window_anywhere(spark, sf_dir):
    """Registry-wide census (round-6 VERDICT item 3): a Window with no
    PARTITION BY funnels its whole input through ONE task's sort — the
    plan shape behind Spark's `WindowExec: No Partition Defined` warning
    and the only scale-killer the round-6 audit found (win_sequence_gaps,
    since re-sharded).  Allowlisted: agg_gini and win_pareto rank
    nation-level aggregates bounded at <=25 rows by construction — a
    global window over a provably tiny input is the right plan.

    Detection: in a physical plan string the first argument of
    `windowspecdefinition(` is the partition spec; when the node is
    unpartitioned the first ORDERING expression (`... ASC/DESC`) appears
    there instead.  The first argument is extracted with a balanced-paren
    scan, not a `[^,)]+` regex — an ordering expression that is itself a
    function call (e.g. `coalesce(a, b) ASC`) would truncate at its inner
    '(' and escape a naive regex (round-7 ADVICE).  Side-effectful
    families (streams, sinks, catalog DDL, metadata migration) are driven
    by their own suites and skipped here; none of them builds windows
    over data-sized inputs.
    """
    bounded_input_ok = {"agg_gini", "win_pareto"}
    skip_prefix = ("stream_", "meta_", "catalog_", "sink_", "scan_python")
    offenders = {}
    for key, fn in QUERIES.items():
        if key.startswith(skip_prefix) or key in bounded_input_ok:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        bad = _unpartitioned_window_specs(plan)
        if bad:
            offenders[key] = bad[:2]
    assert not offenders, f"unpartitioned data-sized windows: {offenders}"


def _unpartitioned_window_specs(plan: str) -> list:
    """Every `windowspecdefinition(...)` in `plan` whose FIRST top-level
    argument is an ordering expression (contains a sort direction token),
    i.e. whose partition spec is empty.  Arguments are split at depth-1
    commas so ordering expressions containing function calls survive."""
    marker = "windowspecdefinition("
    out, i = [], 0
    while True:
        j = plan.find(marker, i)
        if j < 0:
            return out
        depth, k = 1, j + len(marker)
        first, done_first = [], False
        while k < len(plan) and depth:
            c = plan[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                done_first = True
            if not done_first and depth:
                first.append(c)
            k += 1
        head = "".join(first).strip()
        if " ASC" in head or " DESC" in head:
            out.append(plan[j:k][:120])
        # Resume right after the MARKER, not after the matched span: a
        # truncated plan (maxToStringFields elision can drop a closing
        # paren) would otherwise consume the rest of the string and
        # silently skip every later occurrence.  Nested specs get
        # examined independently — extra recall, never lost recall.
        i = j + len(marker)


def test_kcore_peel_rounds_truncate_lineage(spark, sf_dir):
    """graph_kcore (r18 optimization): the peel loop references the
    survivor set twice per round, so without per-round lineage
    truncation the plan doubles every round — 2^6 copies of the peel
    pipeline (measured: 3,565 operators / 255 Exchanges for a 25-node
    graph). With the per-round localCheckpoint the returned plan is one
    final aggregation over the checkpointed survivor set."""
    import re

    plan = _plan(spark, sf_dir, "graph_kcore")
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert len(nodes) <= 60, (
        f"graph_kcore plan re-grew to {len(nodes)} operators — the "
        f"per-round survivor localCheckpoint is gone\n{plan[:4000]}"
    )
    n_exchanges = sum(1 for n in nodes if n == "Exchange")
    assert n_exchanges <= 4, f"expected <=4 Exchanges, found {n_exchanges}"


def test_mad_single_fact_pass(spark, sf_dir):
    """agg_median_absolute_deviation (r19 optimization): both medians
    select from ONE materialized value histogram — the deviation
    histogram is the price histogram re-keyed by |v - median|, never a
    second lineitem pass. The returned plan must therefore contain NO
    parquet scan (the single fact scan lives in the histogram
    localCheckpoint job) and read the materialized histogram twice."""
    plan = _plan(spark, sf_dir, "agg_median_absolute_deviation")
    parquet_scans = plan.count("Scan parquet")
    assert parquet_scans == 0, (
        f"MAD re-grew {parquet_scans} fact scans — the deviation "
        f"histogram must derive from the materialized price histogram\n"
        f"{plan[:3000]}"
    )
    assert plan.count("Scan ExistingRDD") >= 2, (
        f"expected the checkpointed histogram/median scans, got\n{plan[:3000]}"
    )


def test_pq_luts_single_projection(spark, sf_dir):
    """_pq_query_luts (r18 optimization): the 8 per-subspace LUT columns
    are per-row expressions over the same query rows — the frame must be
    ONE projection with zero joins (the previous 8 chained self-joins
    cost 8 extra scans + broadcast exchanges and ~5 s of driver-side
    construction per call)."""
    import contextlib
    import io
    import re

    from yc_data_proc_metadata_import_spark.llm.similarity import (
        _pq_query_luts,
        _pq_train_encode,
    )

    _, books = _pq_train_encode(spark, sf_dir)
    luts = _pq_query_luts(spark, sf_dir, books)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        luts.explain("formatted")
    plan = buf.getvalue()
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert not any("Join" in n for n in nodes), (
        f"LUT build re-grew joins: {nodes}\n{plan[:2000]}"
    )
    scans = sum(1 for n in nodes if n.startswith("Scan"))
    assert scans == 1, f"expected exactly 1 scan, found {scans}: {nodes}"
