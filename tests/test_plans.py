"""Physical-plan audits: the scale properties SURVEY.md §6 promises,
asserted against `.explain` so a regression (lost pushdown, surprise
cartesian product, extra shuffle) fails CI instead of shipping.
"""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from coinbase_data_pipeline_spark.plans.registry import ALL_QUERIES

SF = "/root/testdata/sf0.01"


def formatted_plan(spark, name: str) -> str:
    df = ALL_QUERIES[name](spark, SF)
    jvm = spark._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def test_time_range_pushdown(spark):
    """The time-range predicate must reach the parquet scan (row-group
    pruning), not evaluate post-conversion only."""
    p = formatted_plan(spark, "time_range_fetch")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, "no PushedFilters section"
    line = pushed[0]
    assert "EqualTo(event_type,click)" in line
    # the raw scan column keeps its file name `ts`; the bound literal
    # renders as nano-epoch for tz-aware parquet (TIMESTAMP) and as an
    # ISO datetime for tz-naive parquet (TIMESTAMP_NTZ) — accept both,
    # the driver has shipped each
    bound = r"\(ts\w*,(?:17\d+|2\d\d\d-\d\d-\d\d)"
    assert re.search(r"GreaterThanOrEqual" + bound, line)
    assert re.search(r"LessThanOrEqual" + bound, line)


def test_q1_pushdown_and_partial_agg(spark):
    p = formatted_plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p
    # partial + final HashAggregate around a single exchange
    tree = p.split("\n\n")[0]
    assert tree.count("HashAggregate") == 2


def test_q1_column_pruning(spark):
    """The scan must read only the 7 referenced columns, not the
    full 11-column lineitem schema."""
    p = formatted_plan(spark, "q1_pricing_summary")
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_shipdate" in read


@pytest.mark.parametrize("name", ["q5_local_supplier", "q7_volume_shipping",
                                  "q14_promo_effect",
                                  "q19_discounted_revenue"])
def test_dims_broadcast_no_sortmerge(spark, name):
    """Dimension joins must be broadcast; a SortMergeJoin here means a
    dim shuffled the fact table."""
    tree = formatted_plan(spark, name).split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_embedding",
                                  "ann_lsh", "dedup_ngram_jaccard",
                                  "dedup_simhash_pairs",
                                  "dedup_containment", "knn_graph"])
def test_no_cartesian_products(spark, name):
    """Candidate generation must be bucketed/banded equi-joins — never
    a cartesian product or nested-loop join of the corpus with itself
    (BroadcastNestedLoopJoin is the O(n²) plan Spark picks for
    non-equi self-joins; it dies at 100 TB even when the local run
    finishes)."""
    tree = formatted_plan(spark, name).split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


TPCH_QUERIES = [n for n in ALL_QUERIES
                if re.match(r"q\d+_", n)]

# Analyzed plans print relations as `Relation [cols...] parquet` — no
# file name — so hinted tables are recognized by their key column.
_TABLE_SIG = {
    "c_custkey": "customer", "s_suppkey": "supplier",
    "ps_partkey": "partsupp", "p_partkey": "part",
    "o_orderkey": "orders", "l_orderkey": "lineitem",
    "n_nationkey": "nation", "r_regionkey": "region",
}


def _hinted_tables(analyzed: str) -> list[str]:
    """Tables under a ResolvedHint in an analyzed plan string.

    The hint node prints immediately above its child subtree, so the
    first `Relation` line after each `ResolvedHint` is the hinted scan
    (filters/projects in between don't print Relation lines)."""
    hinted = []
    for chunk in analyzed.split("ResolvedHint")[1:]:
        lines = chunk.splitlines()
        # A hint whose child is a GLOBAL aggregate (one bracket list:
        # `Aggregate [aggs]`, vs grouped `Aggregate [keys], [aggs]`)
        # broadcasts one row — the legitimate broadcast-scalar
        # pattern, size-independent of the scanned table.
        child = lines[1] if len(lines) > 1 else ""
        if "Aggregate [" in child and "], [" not in child:
            hinted.append("<scalar-agg>")
            continue
        rel = next((ln for ln in lines if "Relation" in ln), "")
        for sig, table in _TABLE_SIG.items():
            if sig in rel:
                hinted.append(table)
                break
    return hinted


def test_hint_extraction_is_not_vacuous(spark):
    """Canary for the audit below: a query that hints nation/region
    must REPORT those hints — if extraction returns [] for a plan with
    ResolvedHints, the SF-proportional audit passes vacuously."""
    df = ALL_QUERIES["q5_local_supplier"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    n_hints = analyzed.count("ResolvedHint")
    hinted = _hinted_tables(analyzed)
    assert n_hints > 0, "q5 lost its dim broadcast hints entirely"
    assert len(hinted) == n_hints, (n_hints, hinted)
    assert {"nation", "region"} <= set(hinted), hinted


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_no_forced_broadcast_of_sf_proportional_tables(spark, name):
    """Broadcast hints are only allowed on fixed-cardinality dims
    (nation, region) — customer, supplier, part, orders and lineitem
    all grow with SF, so a forced broadcast of them OOMs at scale no
    matter what the local run shows. Catalyst's size stats still
    broadcast the small sides at test SF; AQE picks the strategy at
    runtime when they outgrow the threshold."""
    df = ALL_QUERIES[name](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hinted = _hinted_tables(analyzed)
    assert len(hinted) == analyzed.count("ResolvedHint"), (
        "unrecognized hinted relation", hinted)
    assert set(hinted) <= {"nation", "region", "<scalar-agg>"}, hinted


def _broadcast_build_tables(plan) -> list[set[str]]:
    """Per BroadcastHashJoin in an executed (adaptive) plan, the tables
    its build side reads; a non-parquet leaf (a checkpointed or
    in-memory relation) reads as "<rdd>"."""
    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        if name.endswith("QueryStage"):
            return [node.plan()]
        if name == "ReusedExchange":
            return [node.child()]
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def leaves(node):
        kids = walk(node)
        return [node] if not kids else [x for k in kids for x in leaves(k)]

    def tables(node):
        out = set()
        for leaf in leaves(node):
            found = re.findall(r"/(\w+)\.parquet\b", leaf.toString())
            out |= set(found) or {"<rdd>"}
        return out

    builds, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "BroadcastHashJoin":
            left = node.buildSide().toString() == "BuildLeft"
            builds.append(tables(node.left() if left else node.right()))
        stack.extend(walk(node))
    return builds


def test_growing_join_sides_leave_broadcast_past_thresholds(spark):
    """The join policy's large branch, forced at sf0.001: with both
    broadcast thresholds (static and adaptive) at 1 byte, q9's orders
    side and every exploded gram relation of dedup_containment must be
    shuffle-joined in the final adaptive plan — only the explicitly
    hinted fixed-size dims (nation, region) may still broadcast — and
    the results must keep oracle parity."""
    from test_oracle_parity import duck_con, normalize

    from coinbase_data_pipeline_spark.plans.registry import ALL_ORACLES

    sf = os.path.join(os.path.dirname(SF), "sf0.001")
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "1")
        for name in ("q9_product_profit", "dedup_containment"):
            df = ALL_QUERIES[name](spark, sf)
            rows = df.collect()
            builds = _broadcast_build_tables(
                df._jdf.queryExecution().executedPlan())
            assert all(b <= {"nation", "region"} for b in builds), (
                name, builds)
            oracle = duck_con(sf).execute(ALL_ORACLES[name])
            ocols = [d[0] for d in oracle.description]
            assert rows and normalize([tuple(r) for r in rows],
                                      df.columns) == normalize(
                oracle.fetchall(), ocols), name
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_get_spark_reapplies_broadcast_policy(spark):
    """get_spark() on a live session restores the join policy's two
    thresholds, so a session that was started elsewhere (or changed
    since) plans joins by the engine's policy, not by its own."""
    from coinbase_data_pipeline_spark import session

    keys = {"spark.sql.autoBroadcastJoinThreshold":
            session.STATIC_BROADCAST_BYTES,
            "spark.sql.adaptive.autoBroadcastJoinThreshold":
            session.ADAPTIVE_BROADCAST_BYTES}
    for k in keys:
        spark.conf.set(k, "12345")
    assert session.get_spark("tests", shuffle_partitions=8) is spark
    assert {k: int(spark.conf.get(k)) for k in keys} == keys


def test_token_packing_salted_plan(spark):
    """The packing prefix sum must be the salted two-pass shape: a
    RANGE repartition feeding per-(stratum, shard) windows, with the
    per-shard offsets BROADCAST back — never a plain hash exchange on
    the bare stratum key (that is the one-task-per-language plan that
    dies on a mono-lingual 100 TB corpus)."""
    p = formatted_plan(spark, "token_packing")
    assert "rangepartitioning" in p.lower(), "no range shard exchange"
    assert "BroadcastHashJoin" in p, "offset join must broadcast"
    # the cumsum window partitions on (stratum, shard), not stratum alone
    assert "_salt" in p


def test_feature_pipeline_single_window_shuffle(spark):
    """All 24-row rolling features share one window family: exactly one
    exchange on product_id feeding one Sort + one Window operator."""
    tree = formatted_plan(spark, "volume_features").split("\n\n")[0]
    assert len(re.findall(r"\bWindow \(\d+\)", tree)) == 1
    assert len(re.findall(r"\bSort \(\d+\)", tree)) == 1
    # three exchanges total: scan spread (round-robin before the tick
    # parse), candle agg (product,bucket), window (product)
    assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 3


def test_full_feature_set_shares_one_window_exchange(spark):
    """The 26-feature pipeline must not add shuffles per feature: the
    whole post-candle feature stack rides ONE exchange + one sort."""
    from coinbase_data_pipeline_spark.operators.indicators import (
        enhance_features)
    from coinbase_data_pipeline_spark.plans.catalog import candles

    df = enhance_features(candles(spark, SF))
    tree = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")).split("\n\n")[0]
    # scan spread + candle agg + the ONE explicit key repartition the
    # whole window stack rides (spread_by_key pins its width against
    # AQE's byte-based coalescer; the planner adds no further exchange)
    assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 3
    assert len(re.findall(r"\bSort \(\d+\)", tree)) == 1


def test_latest_n_uses_window_group_limit(spark):
    """Top-N per key must push the limit below the sort
    (WindowGroupLimit) so no full per-key sort materializes."""
    p = formatted_plan(spark, "latest_n_per_key")
    assert "WindowGroupLimit" in p


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join via bucketing: two tables bucketed+sorted on the
    join key join with ZERO exchanges — the strategy for repeated
    fact-fact joins at 100 TB (shuffle paid once at write time)."""
    from coinbase_data_pipeline_spark.sources.tables import load_table

    od = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    for name, df, key in (("t_orders_b", od, "o_orderkey"),
                          ("t_lineitem_b", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, key).sortBy(key)
           .option("path", str(tmp_path / name))
           .saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (spark.table("t_lineitem_b")
             .join(spark.table("t_orders_b"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderpriority")
             .agg(F.sum("l_quantity")))
        tree = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")).split("\n\n")[0]
        assert "SortMergeJoin" in tree
        # the tree prints root-first: everything below the join line is
        # the join's inputs — bucketed scans, so no Exchange there
        below_join = tree.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in below_join, below_join
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_bucketed_join_elides_shuffle(spark):
    """Two tables bucketed the same way on the join key must
    sort-merge join with ZERO Exchange operators — the storage-layout
    contract (sinks/bucketed.py) that makes the recurring per-key
    joins shuffle-free at scale. Also: a per-key window over one
    bucketed table must not reshuffle."""
    from pyspark.sql import Window, functions as F

    from coinbase_data_pipeline_spark.plans.catalog import candles
    from coinbase_data_pipeline_spark.sinks import bucketed as B

    c = candles(spark, "/root/testdata/sf0.001")
    left = c.select("product_id", "bucket_start", "close")
    right = (c.groupBy("product_id")
             .agg(F.avg("close").alias("mean_close")))
    try:
        for name, df in (("bkt_candles", left), ("bkt_stats", right)):
            B.write_bucketed(df, name, buckets=8, bucket_col="product_id",
                             sort_cols=("product_id",))
        lt = spark.table("bkt_candles")
        rt = spark.table("bkt_stats")
        joined = lt.hint("merge").join(rt, "product_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan}"

        w = Window.partitionBy("product_id").orderBy("bucket_start")
        windowed = lt.withColumn("rn", F.row_number().over(w))
        wplan = windowed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in wplan, \
            f"window over bucketed table shuffled:\n{wplan}"
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_candles")
        spark.sql("DROP TABLE IF EXISTS bkt_stats")


def test_bloom_semi_join_is_all_broadcast(spark):
    """The bloom pre-filter must reach the probe side as ONE
    single-row broadcast (the scalar cross-join pattern) and the
    exact join must be a broadcast semi-join — the probe side never
    shuffles, nothing sort-merges."""
    tree = formatted_plan(spark, "bloom_semi_join").split("\n\n")[0]
    assert "BroadcastHashJoin" in tree          # the exact semi-join
    assert tree.count("BroadcastNestedLoopJoin") == 1  # 1-row bloom map
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_zorder_rank_window_is_sharded(spark):
    """The global-rank window must partition by the z-shard — an
    unpartitioned row_number would drag the whole table to one task."""
    df = ALL_QUERIES["zorder_layout"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    import re as _re
    specs = _re.findall(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)",
                        analyzed)
    # guard against vacuous pass if the plan rendering ever changes
    assert specs, "no row_number window found in analyzed plan"
    for spec in specs:
        assert "shard" in spec


def test_kmv_set_ops_single_scalar_cross(spark):
    """The only non-equi join is the 1×1 sketch cross (two k-sized
    sketch rows meeting for the theta math) — the events table itself
    must reach the sketches through hash aggregation only, never a
    nested-loop or sort-merge join."""
    tree = formatted_plan(spark, "kmv_set_ops").split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_heavy_hitters_cms_broadcasts_grid(spark):
    """The d×w sketch grid and the 1-row total must BROADCAST to the
    token-count side (BroadcastHashJoin + one scalar nested-loop);
    token counts must never sort-merge against the grid."""
    tree = formatted_plan(spark, "heavy_hitters_cms").split("\n\n")[0]
    assert "BroadcastHashJoin" in tree           # cand ⋈ cells
    assert tree.count("BroadcastNestedLoopJoin") == 1  # 1-row total
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_holt_winters_single_key_partition_into_arrow(spark):
    """The Holt recursion runs as ONE Arrow group stage partitioned by
    the key — no joins, no extra exchanges beyond the candle build and
    the per-key partition."""
    tree = formatted_plan(spark, "holt_winters").split("\n\n")[0]
    assert "FlatMapGroupsInPandas" in tree
    assert "Join" not in tree
    # scan-spread round-robin + candle groupBy + per-key partition
    assert tree.count("Exchange") <= 3


def test_doc_pagerank_has_no_array_folds(spark):
    """The per-node inbox reduction must be a plain (fixed-point
    BIGINT) sum — a collect_list anywhere in the rank loop would mean
    per-node state proportional to degree, the unbounded-group shape
    this repo bans from reductions."""
    df = ALL_QUERIES["doc_pagerank"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "collect_list" not in analyzed


def test_recent_predictions_uses_window_group_limit(spark):
    """The trailing-window LIMIT read (get_recent_predictions parity)
    must compile its rank filter to WindowGroupLimit — each (product,
    model) group stops after the cap instead of ranking its whole
    prediction history, the property that keeps the read O(limit) per
    key on an unbounded store."""
    p = formatted_plan(spark, "recent_predictions")
    assert "WindowGroupLimit" in p


def test_recent_predictions_cutoff_pushdown(spark, tmp_path):
    """The production path (explicit cutoff, VERDICT r07 #7): with a
    literal cutoff the recency predicate must reach the parquet scan's
    PushedFilters BEFORE any window runs — on a date-partitioned store
    that is what prunes old partitions; the windowed-max default
    (needed for oracle determinism) structurally cannot push."""
    from pyspark.sql import functions as F

    from coinbase_data_pipeline_spark.operators import predictions as P

    store = str(tmp_path / "preds")
    preds = spark.createDataFrame(
        [("A", "m1", f"2024-01-01 {h:02d}:00:00", 1, 1.0)
         for h in range(24)],
        "product_id string, model_version string, ot string, "
        "horizon int, predicted_price double"
    ).withColumn("origin_time", F.col("ot").cast("timestamp")).drop("ot")
    preds.write.parquet(store)
    out = P.recent_predictions(spark.read.parquet(store),
                               cutoff="2024-01-02 00:00:00")
    plan = out._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "origin_time" in ln
              and "GreaterThanOrEqual" in ln]
    assert pushed, f"cutoff predicate not pushed to scan:\n{plan}"
    assert out.count() == 24  # cutoff-24h covers the whole day


def test_service_health_join_is_broadcast(spark):
    """The health join is O(products × models) rows by construction —
    it must plan as a broadcast join, never a sort-merge exchange of
    the (already partial-agged) store rollups."""
    p = formatted_plan(spark, "service_health")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_predict_single_step_has_no_horizon_explode(spark):
    """The horizon-1 specialization must compute ONE horizon — no
    Generate (explode) node anywhere, unlike model_score's per-horizon
    fan-out. This is what makes it a specialized plan rather than
    six-then-filter."""
    p = formatted_plan(spark, "predict_single_step")
    assert "Generate" not in p


def test_holt_cv_sweep_single_arrow_pass(spark):
    """Folds × grid all evaluate inside ONE per-key Arrow recursion —
    exactly one FlatMapGroupsInPandas subtree; a second one would mean
    the argmin re-executed the sweep (the holt_param_sweep lesson).
    Counted on the raw physical-plan tree (formatted mode prints every
    node twice: once in the tree, once in the detail section)."""
    df = ALL_QUERIES["holt_cv_sweep"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("FlatMapGroupsInPandas") == 1


def test_prediction_cadence_single_exchange(spark):
    """The cadence audit's groupBy keys equal the lag window's
    partition keys, so the aggregation must reuse the window's
    exchange — exactly ONE Exchange in the whole plan (unique=True
    path, the catalog configuration)."""
    from datetime import datetime

    from coinbase_data_pipeline_spark.operators.predictions import (
        prediction_cadence)

    preds = spark.createDataFrame(
        [("A", "m", datetime(2024, 1, 1))],
        "product_id string, model_version string, "
        "origin_time timestamp")
    out = prediction_cadence(preds, unique=True)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1, p


def test_curriculum_dropout_zero_exchanges(spark):
    """Every dropout gate is a pure column expression — the masked
    relation must add ZERO exchanges over its input (and no Python
    UDF nodes: hash60 is md5/conv, JVM-side)."""
    from datetime import datetime

    from coinbase_data_pipeline_spark.operators.windows import (
        curriculum_feature_dropout)

    c = spark.createDataFrame(
        [("A", datetime(2024, 1, 1), 1.0, 2.0, 0.5, 1.5, 10.0)],
        "product_id string, bucket_start timestamp, open double, "
        "high double, low double, close double, volume double")
    out = curriculum_feature_dropout(c, epoch=3)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# ---------------------------------------- registry-wide window audit

# Unpartitioned windows Spark would plan as a SINGLE-partition sort —
# allowed ONLY where the windowed relation is bounded by construction
# (the r09 event_paths audit, made permanent and registry-wide after
# it caught rfm_scores' ntile in r09's verdict).
_BOUNDED_GLOBAL_WINDOWS = {
    # final rank over the <= PATH_TOP TakeOrdered survivors
    "event_paths",
    # 64-row shard prefix sum (ZSPLITS) — layout.zorder_stats doc
    "zorder_layout",
    # vocab rank over <= VOCAB_K TakeOrdered survivors
    "vocab_build",
    "token_id_encode",
}


def _unpartitioned_window_specs(analyzed: str) -> list[str]:
    """Every windowspecdefinition whose FIRST top-level argument is an
    ordered expression (i.e. no partition columns precede the sort)."""
    specs = []
    for m in re.finditer(r"windowspecdefinition\(", analyzed):
        start = m.end()
        depth, i = 1, start
        while depth and i < len(analyzed):
            if analyzed[i] == "(":
                depth += 1
            elif analyzed[i] == ")":
                depth -= 1
            i += 1
        specs.append(analyzed[start:i - 1])

    def first_top_arg(spec: str) -> str:
        d = 0
        for j, ch in enumerate(spec):
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif ch == "," and d == 0:
                return spec[:j]
        return spec

    return [s for s in specs
            if re.search(r"\b(ASC|DESC) NULLS", first_top_arg(s))
            or first_top_arg(s).startswith("specifiedwindowframe")]


def test_no_unbounded_unpartitioned_windows(spark):
    """No registry query may plan an unpartitioned window over an
    unbounded relation (the single-task sort that killed rfm_scores'
    ntile at 10⁹ users). Exceptions are the documented bounded-by-
    construction sites — and each exception must actually still HAVE
    its global window, so the allowlist can't rot into vacuity."""
    offenders = {}
    for name, fn in sorted(ALL_QUERIES.items()):
        analyzed = fn(spark, SF)._jdf.queryExecution().analyzed().toString()
        bad = _unpartitioned_window_specs(analyzed)
        if bad:
            offenders[name] = [s[:80] for s in bad]
    unexpected = set(offenders) - _BOUNDED_GLOBAL_WINDOWS
    assert not unexpected, \
        f"unbounded unpartitioned windows: { {n: offenders[n] for n in unexpected} }"
    stale_allowlist = _BOUNDED_GLOBAL_WINDOWS - set(offenders)
    assert not stale_allowlist, \
        f"allowlisted queries no longer have a global window: {stale_allowlist}"


def test_rfm_threshold_path_contract(spark):
    """The approx-threshold scale path scores by VALUE quantiles
    (equal metric values always share a score — the semantics ntile
    cannot give under ties), so the contract is: same users, scores in
    [1,5], scores monotone in each metric with ties identical, and
    every histogram cut within one bin width of the exact percentile
    (the same accuracy bound approx_quantiles_hist carries)."""
    from coinbase_data_pipeline_spark.plans.catalog_analytics import (
        RFM_THRESHOLD_BINS, q_rfm_scores)

    sf = "/root/testdata/sf0.001"
    exact = {r["user_id"]: r for r in
             q_rfm_scores(spark, sf).collect()}
    approx = {r["user_id"]: r for r in
              q_rfm_scores(spark, sf, approx_thresholds=True).collect()}
    assert set(exact) == set(approx)
    metric_of = {"r_score": ("recency_days", 1),
                 "f_score": ("frequency", -1),
                 "m_score": ("monetary", -1)}
    import math
    for col, (metric, sign) in metric_of.items():
        rows = sorted(approx.values(),
                      key=lambda r: (sign * r[metric], r["user_id"]))
        prev_val, prev_score = None, 0
        for r in rows:
            assert 1 <= r[col] <= 5
            v = sign * r[metric]
            if prev_val is not None and v == prev_val:
                assert r[col] == prev_score, (col, v)   # ties identical
            else:
                assert r[col] >= prev_score, (col, v)   # monotone
            prev_val, prev_score = v, r[col]
        # cut accuracy: each histogram quintile cut within one bin
        # width of the exact percentile of the (signed) metric
        vals = sorted(sign * r[metric] for r in approx.values())
        binwidth = (vals[-1] - vals[0]) / RFM_THRESHOLD_BINS
        from coinbase_data_pipeline_spark.operators.sketches import (
            histogram_quantiles)
        from coinbase_data_pipeline_spark.plans.catalog_analytics import (
            load_table)
        # recompute the cuts exactly as the plan does
        long = (q_rfm_scores(spark, sf)
                .select("user_id",
                        (F.lit(sign) * F.col(metric)).cast("double")
                        .alias("val"),
                        F.lit("x").alias("metric")))
        cuts = {r["q"]: r["estimate_raw"] for r in histogram_quantiles(
            long, ["metric"], "val", [0.2, 0.4, 0.6, 0.8],
            RFM_THRESHOLD_BINS).collect()}
        n = len(vals)
        for q, est in cuts.items():
            target = max(1, math.ceil(q * n))
            exact_pct = vals[target - 1]
            assert abs(est - exact_pct) <= binwidth + 1e-9, \
                (col, q, est, exact_pct, binwidth)


def test_rfm_exact_path_plan_is_sharded(spark):
    """rfm_scores' ranks must partition by (metric, shard) — the
    salted-prefix-sum shape, not a global sort."""
    df = ALL_QUERIES["rfm_scores"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    specs = re.findall(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)",
                       analyzed)
    assert specs, "no row_number window found in analyzed plan"
    for spec in specs:
        assert "_shard" in spec, spec


def test_source_cap_partial_group_limit_below_exchange(spark):
    """Domain balancing must pre-prune on the MAP side: the rank
    filter compiles to a PARTIAL WindowGroupLimit BELOW the source
    exchange (plus the Final above it), so a mega-source ships
    O(k x map_partitions) rows instead of its full row count. This is
    the property that makes the bare rank window safe at scale where
    fixed_k_sample needed a hash-gate prefilter (quality is not
    uniform, so no gate exists here)."""
    df = ALL_QUERIES["source_cap"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    lines = p.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    final = [i for i, l in enumerate(lines)
             if "WindowGroupLimit" in l and "Final" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(source" in l]
    assert partial and final and exch, p
    # plan prints top-down: Final above the exchange, Partial below
    assert final[0] < exch[0] < partial[0], p
