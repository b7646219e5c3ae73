"""Physical-plan audits: the properties that decide whether a query
survives a 100× scale-up — predicate pushdown into the parquet scan,
column pruning, broadcast joins for dimension tables, whole-stage codegen,
partition pruning on the tick layout. These lock in the *plan*, not just
the answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_filter_pushdown_reaches_scan(spark, tables):
    df = tables["lineitem"].where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("\n")[0]


def test_column_pruning_reads_two_columns(spark, tables):
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # untouched columns pruned


def test_dimension_join_broadcasts(spark, tables):
    df = tables["orders"].join(
        tables["customer"], tables["orders"].o_custkey == tables["customer"].c_custkey
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_ohlcv_is_partial_agg_no_sort(spark, tables):
    """The OHLCV plan must be hash-aggregate (partial+final), not a window
    sort — the property that keeps the shuffle small at 100 TB."""
    from aetherium_trader_datapipeline_spark.operators.ohlcv import ohlcv

    df = ohlcv(tables["events"], "ts", ["user_id"], "value")
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Window" not in plan


def test_whole_stage_codegen_on_agg_path(spark, tables):
    df = tables["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity"))
    df.collect()  # AQE shows codegen spans only in the final executed plan
    plan = plan_of(df)
    # whole-stage codegen spans are tagged "[codegen id : N]" in formatted mode
    assert "[codegen id :" in plan


def test_partition_pruning_on_tick_layout(spark, tmp_path):
    """symbol=/date=/hour= layout: a symbol+date predicate must prune to
    that partition's files only (PartitionFilters in the scan)."""
    import datetime as dt

    from aetherium_trader_datapipeline_spark.sources.ticks import historical_range
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_batch

    ticks = historical_range(spark, "NQ", "2024-01-01", "2024-01-03", today=dt.date(2024, 6, 1))
    ingest_batch(ticks, str(tmp_path / "store"))
    store = spark.read.parquet(str(tmp_path / "store"))
    q = store.where((F.col("symbol") == "NQ") & (F.col("date") == "2024-01-02"))
    plan = plan_of(q)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "symbol" in pf and "date" in pf
    # and the pruned count job touches only 1 day
    assert q.count() == 1440


def test_backfill_range_is_one_write_of_one_task_per_day(spark, tmp_path, monkeypatch):
    """A backfill persists its planned days in one ingest_batch write, and
    a fetched day is one partition: a return to a write per day or to
    empty default-parallelism tasks fails here."""
    import datetime as dt

    from aetherium_trader_datapipeline_spark.plans import backfill_service
    from aetherium_trader_datapipeline_spark.plans.control_table import ControlTable
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    today = dt.date(2024, 6, 1)
    assert historical_ticks(spark, "NQ", "2024-01-02", today=today).rdd.getNumPartitions() == 1

    writes = []
    real = backfill_service.ingest_batch

    def counting(ticks, out_dir):
        writes.append(ticks.rdd.getNumPartitions())
        return real(ticks, out_dir)

    monkeypatch.setattr(backfill_service, "ingest_batch", counting)
    report = backfill_service.backfill_range(
        spark, ControlTable(str(tmp_path / "ctl")),
        lambda s, sym, d: historical_ticks(s, sym, d, today=today),
        str(tmp_path / "store"), "NQ", "2024-01-02", "2024-01-04",
    )
    assert report.days_processed == 3
    assert writes == [3]  # one write, one partition per day


def test_detect_gaps_has_no_window_or_join(spark):
    """Gap detection is one aggregation of the present dates, an array
    difference and a group by island: a return to a day spine joined
    against the present dates, or to a row_number() window over all
    missing days, fails here."""
    import datetime as dt

    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps

    present = spark.createDataFrame([(dt.date(2024, 1, d),) for d in (1, 2, 5, 9)], "d DATE")
    df = detect_gaps(present, "2024-01-01", "2024-01-10")
    assert [(str(r.gap_start), r.days) for r in df.collect()] == [
        ("2024-01-03", 2), ("2024-01-06", 3), ("2024-01-10", 1)
    ]
    plan = plan_of(df)  # the executed (AQE final) plan after collect()
    assert "Window" not in plan and "Join" not in plan, plan


def test_asof_single_shuffle(spark, tables):
    """The as-of window formulation must shuffle once (one Exchange on
    user_id), never a nested-loop pair join."""
    from aetherium_trader_datapipeline_spark.operators.asof import asof_latest_prior

    df = asof_latest_prior(
        tables["events"], "ts", ["user_id"],
        of_interest="event_type = 'click'", prior_filter="event_type = 'view'",
    )
    plan = plan_of(df, "simple")  # tree once (formatted repeats nodes in details)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1, plan[:3000]


def test_ordered_export_no_global_sort(spark, tables):
    from aetherium_trader_datapipeline_spark.operators.replay import ordered_export

    df = ordered_export(tables["events"], key_col="user_id", ts_col="ts")
    plan = plan_of(df)
    # per-key ordering: local sort after hash repartition, no range exchange
    assert "rangepartitioning" not in plan.lower()


def test_inspect_parquet(spark, tmp_path):
    from aetherium_trader_datapipeline_spark.operators.inspect import inspect_parquet

    spark.range(100).write.parquet(str(tmp_path / "p"))
    info = inspect_parquet(spark, str(tmp_path / "p"))
    assert info["num_rows"] == 100
    assert info["num_files"] >= 1
    assert "id" in info["schema"]


def test_paced_replay_delivers_in_order(spark, tables, tmp_path):
    import time

    from aetherium_trader_datapipeline_spark.operators.replay import paced_replay

    src = tables["events"].limit(200).select("user_id", F.col("ts").alias("timestamp"), "event_id")
    got: list[tuple] = []

    def sink(batch_df, batch_id):
        got.extend((r.user_id, r.timestamp) for r in batch_df.collect())

    q = paced_replay(src, sink, rows_per_second=100, key_col="user_id", ts_col="timestamp")
    deadline = time.time() + 60
    while time.time() < deadline and len(got) < 200:
        time.sleep(1)
    q.stop()
    assert len(got) >= 100, f"only {len(got)} rows replayed"


def test_tpch_q5_broadcasts_dims_no_cartesian(spark, sf_dir):
    """The 6-way Q5 join must broadcast the small dims and never fall back
    to a cartesian/BNLJ — the property that makes it survive 100 TB facts."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    df = REGISTRY["x80_tpch_q5"].run(spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]


def test_bitmap_distinct_partial_aggregates(spark, sf_dir):
    """x117: the bitmap distinct-count must be partial+final hash
    aggregation — the shuffle carries fixed-size bitmaps, not raw keys."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    df = REGISTRY["x117_bitmap_distinct"].run(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "bitmap_construct_agg" in plan
    assert "Window" not in plan


def test_tfidf_stays_jvm_side(spark, sf_dir):
    """x120: tokenize+score must be pure built-in expressions — no Python
    eval node anywhere in the plan (UDFs are the slow path)."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    df = REGISTRY["x120_tfidf"].run(spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "Python" not in plan and "BatchEval" not in plan


def test_stratified_sample_uses_window_group_limit(spark, sf_dir):
    """x122: the per-stratum quota filter must run as WindowGroupLimit
    (partial top-k before the shuffle), not a full window sort of every
    stratum — the property that bounds the shuffle at 100 TB."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    df = REGISTRY["x122_stratified_sample"].run(spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_recursive_cte_executes_bounded(spark, sf_dir):
    """x114: the recursion must terminate via its WHERE guard (no
    max-iteration error) and produce exactly the 12-month spine."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    assert REGISTRY["x114_recursive_cte"].run(spark, sf_dir).count() == 12


def test_regr_aggs_single_agg_pass(spark, sf_dir):
    """x125: the regr_* family must compile to ONE partial+final hash-agg
    pair (moments merged at the exchange), never a second scan or a sort."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    df = REGISTRY["x125_regr_aggs"].run(spark, sf_dir)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_portable_minhash_is_bucket_join(spark, sf_dir):
    """x129: candidate generation must be an equality join on (band, key)
    buckets — SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin — never a
    NestedLoop (which would be the quadratic all-pairs shape)."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    df = REGISTRY["x129_minhash_portable"].run(spark, sf_dir)
    plan = plan_of(df)
    assert "NestedLoop" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_runtime_bloom_filter_prunes_fact_fact_join(spark, tables):
    """100 TB posture: a selective filter on one fact side should inject a
    runtime bloom filter into the other side's scan (row-level runtime
    filtering), cutting shuffle input before the join. Thresholds are
    tuned down because the local fixtures are tiny."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force a shuffle join: with a broadcastable build side Spark skips
        # the bloom filter (the broadcast itself already limits the probe)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = tables["orders"].where(F.col("o_orderpriority") == "1-URGENT")
        joined = tables["lineitem"].join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).groupBy("o_orderpriority").agg(F.sum("l_quantity").alias("q"))
        plan = plan_of(joined, "simple")
        assert "bloom_filter_agg" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_stats_flip_join_build_side(spark, tmp_path):
    """Cost-based optimization: ANALYZE TABLE statistics let Catalyst pick
    a broadcast join it would not risk without size estimates. At 100 TB,
    table/column stats are what keep multi-join orderings sane — this
    locks in that the engine's tables actually feed the CBO."""
    src = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("g")
    )
    dim = spark.range(0, 200).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("name")
    )
    spark.sql("DROP TABLE IF EXISTS cbo_fact")
    spark.sql("DROP TABLE IF EXISTS cbo_dim")
    src.write.saveAsTable("cbo_fact")
    dim.write.saveAsTable("cbo_dim")
    prev = {
        "spark.sql.cbo.enabled": spark.conf.get("spark.sql.cbo.enabled"),
        "spark.sql.cbo.joinReorder.enabled": spark.conf.get(
            "spark.sql.cbo.joinReorder.enabled"
        ),
    }
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        spark.sql("ANALYZE TABLE cbo_fact COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS")
        # stats recorded and visible to the planner
        desc = spark.sql("DESC EXTENDED cbo_fact").collect()
        stats_row = [r for r in desc if r.col_name == "Statistics"]
        assert stats_row and "rows" in stats_row[0].data_type
        joined = spark.sql(
            "SELECT g, COUNT(*) AS n FROM cbo_fact f JOIN cbo_dim d ON f.k = d.k "
            "GROUP BY g"
        )
        plan = plan_of(joined, "simple")
        assert "BroadcastHashJoin" in plan  # dim stats → broadcast chosen
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS cbo_fact")
        spark.sql("DROP TABLE IF EXISTS cbo_dim")


def test_domain_mix_broadcasts_weights_jvm_side(spark, sf_dir):
    from aetherium_trader_datapipeline_spark.operators.curation import domain_mix_sample
    from aetherium_trader_datapipeline_spark.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    weights = spark.createDataFrame([("src0", 1.0)], "source string, w double")
    plan = plan_of(domain_mix_sample(docs, weights), "simple")
    assert "BroadcastHashJoin" in plan  # weight dim never shuffles the corpus
    assert "Python" not in plan and "BatchEval" not in plan  # md5 filter is JVM


def test_repetition_stats_stays_jvm_side(spark, sf_dir):
    from aetherium_trader_datapipeline_spark.operators.curation import repetition_stats
    from aetherium_trader_datapipeline_spark.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    plan = plan_of(repetition_stats(docs, "doc_id"), "simple")
    assert "Python" not in plan and "BatchEval" not in plan


def test_sequence_packing_single_arrow_exchange(spark, sf_dir):
    from aetherium_trader_datapipeline_spark.operators.curation import pack_sequences
    from aetherium_trader_datapipeline_spark.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    plan = plan_of(pack_sequences(docs), "simple")
    # one Arrow-batched grouped-map stage over one shard exchange — the
    # sequential greedy never funnels through the driver
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("Exchange") == 1, plan[:3000]


def test_kmeans_assignment_is_map_only(spark, sf_dir):
    from aetherium_trader_datapipeline_spark.operators.curation import kmeans_assign
    from aetherium_trader_datapipeline_spark.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    e = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    cents = [(i, [float(i)] * 64) for i in range(4)]
    plan = plan_of(kmeans_assign(e, cents), "simple")
    # centroids live in the plan as literals: no join, no shuffle, no Python
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan and "BatchEval" not in plan


def test_ema_plan_single_exchange_no_window(spark, tables):
    """Exact EMA: one hash shuffle on the key, in-partition sort, one
    Python stage — no Window operator, no per-row history arrays."""
    from aetherium_trader_datapipeline_spark.operators.timeseries import ema

    src = tables["events"].select("user_id", "event_id", "ts", F.round("value", 4).alias("v"))
    df = ema(src, ["user_id"], ["ts", "event_id"], "v", out_cols=["event_id"])
    plan = plan_of(df, "simple")
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "collect_list" not in plan


def test_minhash_assignments_plan_single_linear_join(spark, tables):
    """Bucket-min assignment: exactly one equality join (bands x bucket_min),
    never a nested-loop/cartesian — the linear-candidate guarantee."""
    from aetherium_trader_datapipeline_spark.operators.dedup import (
        minhash_portable_assignments,
    )

    df = minhash_portable_assignments(tables["documents"], "doc_id")
    plan = plan_of(df, "simple")
    assert plan.count("Join") == 1, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_plan_single_shuffle(spark, tables):
    """Nearest as-of runs both direction passes off ONE hash exchange on
    the key (two in-partition sorts, zero joins)."""
    from aetherium_trader_datapipeline_spark.operators.asof import asof_join

    ev = tables["events"]
    clicks = ev.where("event_type = 'click'").select("user_id", "ts", "event_id")
    views = ev.where("event_type = 'view'").select("user_id", "ts", "event_id", "value")
    df = asof_join(clicks, views, "ts", ["user_id"], ["event_id", "value"], direction="nearest")
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2500]
    assert "Join" not in plan
