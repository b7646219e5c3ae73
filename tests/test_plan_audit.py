"""Physical-plan invariants over the ENTIRE registry.

SCALE.md argues every query avoids unbounded join fan-out and
single-task frames over raw rows, and reads only the columns it needs;
these tests make the claims executable:

1. No registry query may plan a ``CartesianProduct``. Scalar cross joins
   (single-row count/vocab/cap CTEs) plan as BroadcastNestedLoopJoin and
   are fine; a CartesianProduct means a non-equi join with two large
   sides — the shape that detonates at 100 TB.
2. A BroadcastNestedLoopJoin's build side must be provably bounded.
3. A window band over ``Exchange SinglePartition`` must sit on a collapse.
4. Every unpartitioned window must be auto-bounded or carry a written
   bound argument.
5. Column pruning must reach the parquet scan: queries known to touch a
   narrow projection must show a ReadSchema that excludes the wide
   columns (e.g. q01 aggregates l_orderkey only — a scan that also reads
   l_comment would ship the table's widest column for nothing).

Gates 1-4 share one pass: the module-scoped ``registry_findings`` fixture
builds each registry key once and keeps only what ``plan_findings``
reports for it, and the proof-cases run that same ``plan_findings`` on
hand-written queries.  Every check walks the plan as a py4j tree
(``tests.windowaudit.walk``).

Plans are compiled (analyzed + physical planning) without executing the
query — with one caveat: operators that eagerly localCheckpoint or count
during plan CONSTRUCTION (x172's pagerank materializes its edge list)
do run those setup jobs.
"""

from __future__ import annotations

import re

import pytest

from aetherium_trader_datapipeline_spark.queries import REGISTRY, queries
from aetherium_trader_datapipeline_spark.tables import load_tables
from tests.conftest import SF_DIR
from tests.windowaudit import AUTO_BOUNDED, global_windows, walk


def _spark_plan(spark, key: str):
    return REGISTRY[key].run(spark, SF_DIR)._jdf.queryExecution().sparkPlan()


# Evidence in a build-side subtree that its row count is bounded regardless
# of input scale: a scalar aggregate, a literal/local relation, a limit, or
# a pushed point-equality filter (one key → O(1) rows).
_BOUNDED_MARKERS = (
    "HashAggregate(keys=[], ",
    "SortAggregate(key=[], ",
    "LocalTableScan",
    "OneRowRelation",
    "CollectLimit",
    "GlobalLimit",
    "TakeOrderedAndProject",
    "EqualTo(",
)

# SortAggregate prints the singular "key=[" — match both
_KEYED_AGG_RE = re.compile(
    r"(?:HashAggregate|SortAggregate|ObjectHashAggregate)\(keys?=\[[^\]]"
)


def _has_collapse(subtree: str) -> bool:
    return bool(_KEYED_AGG_RE.search(subtree)) or any(
        m in subtree for m in _BOUNDED_MARKERS
    )


def _build_sides(spark_plan):
    """The build-side child of every BroadcastNestedLoopJoin in the plan."""
    for node, _ in walk(spark_plan):
        if node.nodeName() == "BroadcastNestedLoopJoin":
            build_right = node.buildSide().toString() == "BuildRight"
            yield node.right() if build_right else node.left()


def _global_bands(executed_plan):
    """Every ``Exchange SinglePartition`` that feeds a window band (a
    Window node among its two nearest ancestors) — scalar-aggregate final
    exchanges are not bands."""
    for node, ancestors in walk(executed_plan):
        if (
            node.nodeName() == "Exchange"
            and node.outputPartitioning().toString() == "SinglePartition"
            and any("Window" in a.nodeName() for a in ancestors[-2:])
        ):
            yield node


def plan_findings(df) -> dict:
    """What gates 1-4 flag in one DataFrame's plans: offending subtrees
    (text, truncated) for Cartesian products, unbounded BNLJ build sides
    and global bands over an uncollapsed frame, plus the classified
    unpartitioned windows."""
    qe = df._jdf.queryExecution()
    spark_plan = qe.sparkPlan()
    bnlj_sides = [side.toString() for side in _build_sides(spark_plan)]
    # Exchanges exist only after EnsureRequirements: sparkPlan() is
    # before it, so the band check reads the executed plan
    bands = [band.toString() for band in _global_bands(qe.executedPlan())]
    return {
        "cartesian": [
            node.toString()[:400]
            for node, _ in walk(spark_plan)
            if node.nodeName() == "CartesianProduct"
        ],
        "bnlj": [
            st[:400] for st in bnlj_sides if not any(m in st for m in _BOUNDED_MARKERS)
        ],
        "band": [st[:400] for st in bands if not _has_collapse(st)],
        "windows": global_windows(df),
    }


def _temp_views(spark) -> set[str]:
    ids = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*")
    return {ids.apply(i).table() for i in range(ids.size())}


@pytest.fixture(scope="module")
def registry_findings(spark) -> dict[str, dict]:
    """``plan_findings`` for every registry key, each key built once, plus
    the temporary views the build added or dropped (``views``)."""
    queries()
    load_tables(spark, SF_DIR)
    findings = {}
    for key, q in REGISTRY.items():
        before = _temp_views(spark)
        findings[key] = plan_findings(q.run(spark, SF_DIR))
        findings[key]["views"] = sorted(_temp_views(spark) ^ before)
    return findings


def test_registry_builds_leave_no_views(registry_findings):
    """A key passes its intermediates to ``spark.sql`` as DataFrame
    arguments, so building it leaves the session's temporary views as it
    found them: no fixed-name view outlives the run, and two runs in one
    session cannot read each other's intermediates."""
    leaked = {k: f["views"] for k, f in registry_findings.items() if f["views"]}
    assert leaked == {}, leaked


def _offenders(found: dict[str, list], allowed) -> tuple[dict, list]:
    """(unargued offenders by key, stale allowlist entries) for one gate,
    from each key's list of flagged findings."""
    hit = {k: v for k, v in found.items() if v}
    unargued = {k: v for k, v in hit.items() if k not in allowed}
    return unargued, sorted(set(allowed) - set(hit))


def test_no_cartesian_product_anywhere(registry_findings):
    offenders, _ = _offenders(
        {k: f["cartesian"] for k, f in registry_findings.items()}, ()
    )
    assert offenders == {}, f"CartesianProduct planned in: {sorted(offenders)}"


def test_cartesian_checker_flags_unbroadcastable_non_equi_join(spark):
    """Proof-case: a non-equi self-join of lineitem plans as a
    CartesianProduct once neither side may broadcast, and the Cartesian
    check flags it; at the session's broadcast threshold the same join
    plans as a BroadcastNestedLoopJoin instead, which the BNLJ check
    owns."""
    load_tables(spark, SF_DIR)
    sql = (
        "SELECT a.l_orderkey FROM lineitem a JOIN lineitem b "
        "ON a.l_quantity < b.l_quantity"
    )
    conf = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        unbroadcastable = plan_findings(spark.sql(sql))
    finally:
        spark.conf.set(conf, prev)
    assert unbroadcastable["cartesian"], "checker failed to flag a CartesianProduct"
    broadcast = plan_findings(spark.sql(sql))
    assert broadcast["cartesian"] == [], broadcast["cartesian"]
    assert broadcast["bnlj"], "the broadcast form left the BNLJ check's view"


@pytest.mark.parametrize(
    "key,table,must_be_absent",
    [
        # q01 sums l_orderkey: the 16-column lineitem scan must be pruned
        ("q01_scan_agg", "lineitem", "l_comment"),
        # q04 joins orders⨝customer on keys + aggregates o_totalprice
        ("q04_join_agg", "orders", "o_comment"),
        # x81 reads 4 lineitem columns (filter + sum)
        ("x81_tpch_q6", "lineitem", "l_comment"),
        # doc queries tokenize text; n_chars-only queries must not read text
        ("x159_shard_assign", "documents", "text"),
        ("x166_weighted_sample", "documents", "text"),
        # x213 reads user_id/ts/event_id/event_type/value — never props
        ("x213_avg_cost_pnl", "events", "props"),
        # x221 scores on value/event_type only
        ("x221_auc", "events", "props"),
        # x230 projects the bipartite keys; lineitem's wide column stays out
        ("x230_bipartite_projection", "lineitem", "l_comment"),
        # x241 ranks by acctbal within nation; address/comment must prune
        ("x241_rank_fns", "customer", "c_address"),
        # x275 samples on (lang, doc_id) — the wide text column must prune
        ("x275_reservoir_sample", "documents", "text"),
        # x286 buckets user_id only
        ("x286_partition_skew_report", "events", "props"),
        # x287 interleaves two key columns; comments must prune
        ("x287_zorder_keys", "orders", "o_comment"),
        # x288 probes custkeys; address/comment must prune on both sides
        ("x288_portable_bloom", "customer", "c_address"),
        # (x294/x304 can't be audited here: their ranked frame
        # localCheckpoints, so the final plan reads a LogicalRDD with no
        # FileScan — the 2-column projection happens before the
        # checkpoint job via an explicit .select.)
    ],
)
def test_column_pruning_reaches_scan(spark, key, table, must_be_absent):
    queries()
    plan = _spark_plan(spark, key).toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans, f"{key}: no parquet scan in plan"
    target = [ln for ln in scans if f"{table}.parquet" in ln]
    assert target, f"{key}: no scan of {table} found"
    for ln in target:
        assert must_be_absent not in ln, (
            f"{key}: scan of {table} reads {must_be_absent} — pruning failed:\n{ln}"
        )


# Keys whose BNLJ build side is data-proportional by DESIGN, with the reason
# a reviewer should hold it to. Keep this list short and justified.
_BNLJ_ALLOWED = {
    # probe set = fixed modulus sample of embeddings (demo stand-in for a
    # caller-supplied bounded probe table); labeled side is the broadcast.
    "x192_knn_classify",
}


def test_no_large_side_bnlj(registry_findings):
    """A BroadcastNestedLoopJoin is only acceptable when its BUILD side is
    provably bounded (scalar agg / literal / limit / point filter). A BNLJ
    whose broadcast side grows with the data is the x177 r3 hazard:
    Θ(|left|×|right|) predicate evaluations that detonate at 100 TB even
    though the plan contains no CartesianProduct."""
    offenders, stale = _offenders(
        {k: f["bnlj"] for k, f in registry_findings.items()}, _BNLJ_ALLOWED
    )
    assert offenders == {}, "\n\n".join(
        f"{k}: unbounded BNLJ build side:\n{st}"
        for k, v in offenders.items()
        for st in v
    )
    assert stale == [], f"stale BNLJ allowlist entries: {stale}"


def test_bnlj_checker_flags_prefix_x177_shape(spark):
    """Regression proof-case: x177's ORIGINAL r3 form (day spine joined to
    raw events on a datediff BETWEEN inequality) must be flagged by the
    BNLJ checker — it planned a BroadcastNestedLoopJoin whose build side
    was the full events scan."""
    load_tables(spark, SF_DIR)
    df = spark.sql(
        """
        WITH spine AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
        SELECT s.d, COUNT(DISTINCT e.user_id) AS wau
        FROM spine s JOIN events e
          ON datediff(s.d, CAST(e.ts AS DATE)) BETWEEN 0 AND 6
        GROUP BY s.d
        """
    )
    assert plan_findings(df)["bnlj"], (
        "checker failed to flag an events-sized BNLJ build side"
    )


# ---------------------------------------------------------------------------
# Global-band policy (VERDICT r6 ask #8)
#
# A window/sort band over Exchange SinglePartition is an exact global
# rank/cumsum — the x470/x557/x564 class. Policy, now mechanical: the
# single-partition frame must be provably SUB-LINEAR in the input, i.e. the
# exchange's child subtree must contain a keyed aggregate / distinct collapse
# (a distinct-value grid or per-key collapse) or an outright bounded marker.
# A global band directly over raw rows must be rewritten as a chunked window
# with boundary handoff (the x498 form). Keys that need a band over a
# collapse the heuristic cannot see go in _GLOBAL_BAND_ALLOWED with the
# argued frame bound.
_GLOBAL_BAND_ALLOWED: dict[str, str] = {
    # (empty — every current global band sits on a collapse the checker
    # recognizes; add entries ONLY with an argued sub-linear frame)
}


def test_global_band_requires_collapse(registry_findings):
    offenders, stale = _offenders(
        {k: f["band"] for k, f in registry_findings.items()}, _GLOBAL_BAND_ALLOWED
    )
    assert offenders == {}, "\n\n".join(
        f"{k}: global band over an uncollapsed frame:\n{st}"
        for k, v in offenders.items()
        for st in v
    )
    assert stale == [], f"stale global-band allowlist entries: {stale}"


def test_global_band_checker_flags_raw_row_band(spark):
    """Proof-case: a cumulative sum directly over raw lineitem rows (the
    banned x574-r6 shape — a single-partition sort of the full table)
    must be flagged by the global-band checker, while the same band over
    a distinct-value collapse must pass."""
    load_tables(spark, SF_DIR)
    raw_band = (
        "SELECT l_orderkey, SUM(l_quantity) OVER (ORDER BY l_orderkey, "
        "l_linenumber ROWS UNBOUNDED PRECEDING) AS cum FROM lineitem"
    )
    assert plan_findings(spark.sql(raw_band))["band"], (
        "checker failed to flag a raw-row global band"
    )

    collapsed_band = (
        "WITH g AS (SELECT l_quantity AS v, COUNT(*) AS c FROM lineitem "
        "GROUP BY l_quantity) "
        "SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum "
        "FROM g"
    )
    assert not plan_findings(spark.sql(collapsed_band))["band"], (
        "checker flagged a band over a distinct-value collapse"
    )


# ---------------------------------------------------------------------------
# Argued-bound proofs for the two scalar-broadcast keys (VERDICT r7 ask #7).
#
# x567 and x571 carry a CROSS JOIN by design: a per-group frame joined to ONE
# row of global moments. Their boundedness argument used to live only in
# docstrings; these tests make it executable. The invariant is stronger than
# test_no_large_side_bnlj's generic marker scan: EVERY nested-loop build side
# in these two plans must be a SCALAR aggregate subtree (HashAggregate with
# empty grouping — exactly one row at ANY data scale), not merely "contains
# some bounded marker". If a future edit reshapes the build side (e.g. back
# to the r6 keyed-aggregate cross join whose ≤2-row / 25×5-row bounds were
# true but not machine-checkable), this fails loudly.
_SCALAR_BROADCAST_PROOFS = {
    # build side = `rv`: one SCALAR conditional aggregation over spans
    # (SUM(CASE WHEN sym=...)), so the broadcast is exactly 1 row; the pair
    # fan-out is bounded separately by the minute-bucket equi-join.
    "x567_hayashi_yoshida",
    # build side = `gdist`: scalar global distribution (SUM over the
    # fixed-arity 5-level pivot), exactly 1 row at any scale; the probe side
    # is the |nations|-row per-group frame.
    "x571_t_closeness",
}


@pytest.mark.parametrize("key", sorted(_SCALAR_BROADCAST_PROOFS))
def test_scalar_broadcast_build_side_proof(spark, key):
    queries()
    sides = [side.toString() for side in _build_sides(_spark_plan(spark, key))]
    assert sides, (
        f"{key}: expected the scalar-broadcast CROSS JOIN shape; plan has no "
        "BroadcastNestedLoopJoin — the argued bound no longer applies, "
        "re-derive it (or drop this proof if the cross join is gone)"
    )
    for st in sides:
        assert "HashAggregate(keys=[], " in st or "SortAggregate(key=[], " in st, (
            f"{key}: BNLJ build side is no longer a SCALAR aggregate — the "
            f"one-row broadcast bound is broken:\n{st[:400]}"
        )


def test_filter_pushdown_reaches_scan(spark):
    """q02 filters on l_shipdate/l_returnflag — both must appear as
    PushedFilters on the parquet scan, not only as a post-scan Filter."""
    queries()
    plan = _spark_plan(spark, "q02_filter_project").toString()
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and "PushedFilters: [" in scan[0]
    pushed = scan[0].split("PushedFilters: [", 1)[1]
    assert "l_shipdate" in pushed and "l_returnflag" in pushed, pushed


def test_collect_sites_are_allowlisted():
    """Every ``.collect()`` in non-test source must be a known BOUNDED
    site (driver traffic O(days), O(k·dim), O(partitions) or a scalar) —
    the r9 verdict verified this by hand; this makes it a standing gate.
    Adding a new ``.collect()`` fails here until its bound is argued and
    the allowlist updated.  ``.toPandas()`` is banned outright in
    non-test source (0 sites today; Arrow batches belong in
    applyInPandas/mapInPandas, not on the driver)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "aetherium_trader_datapipeline_spark"
    )
    # file -> (expected .collect() count, bound argument)
    allow = {
        "plans/bootstrap.py": (1, "per-date max-ts: O(existing dates)"),
        "plans/backfill_service.py": (1, "backfill day list (write metrics now come from observe() on the write itself)"),
        "streaming/rollup.py": (1, "distinct dates in one micro-batch (shared sink scaffolding)"),
        "operators/replay.py": (1, "single min/max bounds row"),
        "operators/inspect.py": (1, "per-file row-count audit: O(files)"),
        "operators/merge.py": (2, "touched/surviving partition lists (compaction sizes from an FS listing, no collect)"),
        "operators/graph.py": (1, "one checksum scalar (label sum)"),
        "operators/curation.py": (2, "k-means: k seed rows + k*dim centroids"),
        "operators/similarity.py": (2, "IVF: n_centroids seeds + k*dim means"),
        "queries_ext48.py": (1, "one max-|weight| scalar"),
        "queries_ext63.py": (1, "one count scalar"),
        "__main__.py": (2, "CLI display paths (gap report, --limit rows)"),
    }
    got: dict[str, int] = {}
    for p in pkg.rglob("*.py"):
        if "_vendor" in p.parts:
            continue
        src = p.read_text()
        n = len(re.findall(r"\.collect\(\)", src))
        if n:
            got[str(p.relative_to(pkg))] = n
        assert ".toPandas()" not in src, f"driver toPandas() in {p}"
    assert got == {k: v[0] for k, v in allow.items()}, (
        "collect() sites changed; argue the new site's bound and update "
        f"the allowlist. got={got}"
    )


# ---------------------------------------------------------------------------
# Unpartitioned-window boundedness gate (VERDICT r10 ask #3 — the x442 class)
#
# The global-band gate above already demands a COLLAPSE below any
# single-partition band; x442 showed that is not enough: a window over a
# collapsed-but-entity-scaled grid (the full term vocabulary) still moves
# 1e8-1e9 rows through one task at 100 TB.  This gate is the stronger form:
# every window with an empty partition spec must be AUTO-BOUNDED (a LIMIT
# or scalar aggregate below it — the classifier proves it) or carry a
# written bound argument here.  The r11 sweep classified all 575 keys and
# rewrote the eleven entity-scaled offenders (x198 x210 x238 x258 x273
# x296 x311 x428 x442 x516 x552 x554 — global ranks now come from
# value-range chunking / LIMIT-first / scalar-agg forms); everything below
# is bounded by a domain, a calendar, a literal, or a documented chunk
# grid, NOT by row count.
_CHUNK_GRID = ("prefix offsets over the <=1000-row value-range chunk grid "
               "(x198/x238 family); rank windows are partitioned by chunk. "
               "SKEW CAVEAT (r11 advice): chunk boundaries are equal-WIDTH "
               "in value space, so a distribution where most rows share one "
               "value (or sit in a narrow band relative to min/max outliers) "
               "funnels through one chunk's task — equal-width bounds the "
               "grid, not the per-chunk row count.  For the registry's "
               "metrics this is acceptable: the chunked columns are "
               "aggregated monetary/score totals whose mass is spread by "
               "construction; a production caller with tie-dense data "
               "should switch to quantile (approx_percentile) boundaries "
               "or recurse one sub-chunk level on oversized chunks")
_GLOBAL_WINDOW_BOUNDS: dict[str, str] = {
    # (q33_gap_detection, x52_backfill_plan and x141_gap_detection_sparse
    # left this list: gap detection and the backfill planner are one
    # collect_set aggregation plus an array difference, no window)
    # --- value-range chunked rewrites (r11) ---
    "x198_gini": _CHUNK_GRID,
    # (x210_rfm left this list in r14: the stacked chunked-rank rewrite
    # partitions every window by (tag, ck); the prefix band sees only the
    # tag x chunk grid and auto-classifies.)
    "x238_pareto_8020": _CHUNK_GRID,
    "x258_abc_class": _CHUNK_GRID,
    "x296_perplexity_buckets": _CHUNK_GRID,
    # (x311_conformal_interval left this list in r14: the chunked-rank
    # windows moved into the q-checkpoint statement — text unchanged, still
    # value-range chunked; the final statement has no global window.)
    # --- quantized-domain support grids (cardinality = value domain) ---
    "x197_ks_test": "cumsum over the distinct ROUND(value,2) support grid; quantized metric domain, not row count",
    "x221_auc": "distinct score-cents grid (ROUND(value*100)); quantized domain",
    "x222_calibration": "distinct score-cents grid + per-score partitioned ranks; quantized domain",
    "x246_quantile_normalize": "distinct cents grid (r7 global-band rewrite); quantized domain",
    "x470_selectivity_error": "distinct price grid; cents-quantized domain cap (the x575 device)",
    "x496_auc_delong": "distinct 1e6-quantized score grid; fixed quantization domain",
    "x564_kruskal_wallis": "distinct o_totalprice value grid; cents-quantized domain cap",
    "x565_wilcoxon_signed_rank": "two-level rank offsets (r11): level-1 partitioned by 8192-value super-buckets over the diff grid; the global band sees only the super-bucket grid",
    "x575_histogram_selectivity": "distinct price grid; cents-quantized domain cap",
    # --- calendar-bounded grids (days / hours / minutes / lifetimes) ---
    "x219_km_table": "per-lifetime-day collapse x scalar total; O(observation days)",
    "x177_dau_wau": "coverage cumsum over the boundary-day grid (interval starts/ends are dates); O(calendar days)",
    "x226_new_vs_returning": "per-day new/returning grid; O(calendar days)",
    "x234_var_es": "per-day portfolio returns; O(calendar days)",
    "x332_systematic_sample": "per-orderdate count offsets; O(calendar days)",
    "x364_portfolio_var": "per-day portfolio returns; O(calendar days)",
    "x370_quantile_normalize": "pooled (sym,day) returns: 10 symbols x O(days)",
    "x374_kaplan_meier": "per-lifetime-day risk table; O(days)",
    "x473_error_budget_burn": "hourly burn grid; O(calendar hours)",
    "x476_littles_law": "minute boundary-delta grid; O(calendar minutes)",
    "x519_bass_diffusion": "per-day adopter counts; O(calendar days)",
    "x542_cs_dispersion": "per-day cross-sectional dispersion; O(calendar days)",
    "x516_weibull_reliability": "gap rank over consecutive distinct error-second diffs (calendar-second-bounded) + O(days) boundary handoff",
    # (x554_inspection_paradox left this list in r14: the day-partitioned
    # gap windows moved into the gaps-checkpoint statement — text
    # unchanged; the final statement has no global window.)
    # --- categorical-domain collapses (event_type / source / lang / nation / sym) ---
    "x225_revenue_share": "25 nations",
    "x326_mutual_information": "lang x source contingency cells; categorical domains",
    "x350_token_budget_fill": "per-source collapse; curated source domain",
    "x351_largest_remainder": "25 nations x scalars",
    "x410_data_constrained_tokens": "per-source collapse",
    "x411_neyman_allocation": "per-source collapse",
    "x414_chi2_independence": "per-source / per-lang contingency collapses",
    "x430_shapley_attribution": "per-channel (event_type domain)",
    "x441_ab_power_plan": "per-event_type rates",
    "x449_james_stein": "per-event_type group means",
    "x453_bh_fdr": "per-source p-values",
    "x454_tost_equivalence": "per-event_type means",
    "x456_stratified_att": "event_type x 4 hour-blocks x scalar",
    "x464_risk_parity": "10 symbols",
    "x485_wilson_ci": "per-event_type counts",
    "x492_deflated_sharpe": "10 symbols",
    "x507_backfill_priority": "10 symbols x scalar span",
    "x513_mix_waterfill": "per-source collapse",
    "x525_consistent_hash_ring": "10 ring nodes",
    "x547_mix_shift_decomposition": "4 user segments",
    "x563_equalized_odds": "3 fairness groups",
    "x571_t_closeness": "25 nations x scalar distribution",
    # --- literal / fixed-arity frames ---
    "x211_log_histogram": "<=64 log2 buckets (HDR-histogram posture)",
    "x279_token_budget_histogram": "<=21 LEAST-capped buckets",
    "x306_heaps_law": "4 literal corpus-prefix checkpoints",
    "x309_poisson_bootstrap": "32 bootstrap replicates",
    "x333_gini_stump": "distinct l_quantity split points (<=50)",
    "x349_quality_funnel": "5 literal funnel stages",
    "x390_calibration_ece": "10 confidence bins",
    "x391_woe_iv": "price-range bins (o_totalprice/50000)",
    "x422_brier_decomposition": "10 forecast bins x scalar",
    "x427_modularity": "per-community terms x scalar edge count",
    "x429_edge_cut_balance": "8 shards x scalar cut",
    "x439_mcv_stats": "distinct l_quantity grid (<=50)",
    "x480_markov_attribution": "absorbing-chain recursion over the 6-state matrix; state-count-bounded",
    "x482_join_order_plan": "2 literal plan rows",
    "x494_reserve_price_sweep": "5 literal reserves",
    "x505_regression_discontinuity": "2 cutoff sides",
    "x508_ransac_line": "5 literal trials",
    "x509_lifecycle_tiering": "3 tiers",
    "x514_lsh_param_plan": "6 layouts x 21 grid points",
    # --- structure-scale grids (metadata, not rows) ---
    "x294_zone_map_prune": "grid_rank two-level offsets (r11/r12): level-1 partitioned by super-bucket (incl. timestamp buckets via year()); global band sees only the super-bucket grid",
    # (x304_hilbert_vs_zorder left this list in r12: the ntile_bucket +
    # joint-cell rewrite auto-classifies every window — tile grids and
    # the 65,536-cell curve histograms carry the offsets two-level, and
    # the only 60M window is partitioned by (a,b) cell.)
    "x466_watermark_plan": "two-level prefix max (r11): level-1 partitioned by 8192-batch super-batches; the global band sees only the super-batch grid",
    "x498_sortedness_profile": "two-level boundary handoff (r11): level-1 partitioned by 8192-block super-blocks; the global band sees only the |rows|/10^4/8192 grid",
    "x557_monetary_unit_sampling": "two-level prefix sums (r11): level-1 partitioned by 8192-chunk super-chunks; the global band sees only the |orders|/8192^2 grid",
    "x574_encoding_plan": "two-level boundary handoff (r11): level-1 partitioned by 8192-chunk super-chunks; the global band sees only the super-chunk grid",
    # (x447 was the one query-selectivity-bounded entry; since r11 its
    # per-list ranks are value-range chunked like x198, so the bound is
    # now the chunk grid, not query selectivity.)
    "x447_rrf_fusion": _CHUNK_GRID + "; two ranked lists, two grids",
}


def test_unpartitioned_windows_bounded_or_argued(registry_findings):
    """Every registry key's empty-partition-spec windows must classify as
    bounded_by_limit / bounded_by_scalar_agg, or the key carries a written
    bound argument in _GLOBAL_WINDOW_BOUNDS.  Stale allowlist entries
    (keys whose windows all became auto-bounded) fail too, so the list
    stays an honest inventory."""
    needs = {
        k: [w for w in f["windows"] if w["status"] not in AUTO_BOUNDED]
        for k, f in registry_findings.items()
    }
    offenders, stale = _offenders(needs, _GLOBAL_WINDOW_BOUNDS)
    assert offenders == {}, (
        "unargued single-partition window(s) — rewrite (LIMIT-first, "
        "scalar-agg, or value-range chunking) or add a bound argument:\n"
        + "\n".join(f"{k}: {v}" for k, v in offenders.items())
    )
    assert stale == [], f"stale window-bound allowlist entries: {stale}"


def test_window_classifier_flags_raw_and_accepts_bounded(spark):
    """Proof-case for the classifier itself: a global cumsum directly over
    raw lineitem rows must classify as needs-argument, while the same
    band above a LIMIT or a scalar aggregate must auto-bound."""
    load_tables(spark, SF_DIR)

    def statuses(sql: str) -> set[str]:
        return {w["status"] for w in plan_findings(spark.sql(sql))["windows"]}

    raw = statuses(
        "SELECT SUM(l_quantity) OVER (ORDER BY l_orderkey, l_linenumber "
        "ROWS UNBOUNDED PRECEDING) AS c FROM lineitem"
    )
    assert raw and not (raw & AUTO_BOUNDED), raw

    limited = statuses(
        "WITH t AS (SELECT l_orderkey AS k FROM lineitem ORDER BY "
        "l_orderkey LIMIT 50) "
        "SELECT ROW_NUMBER() OVER (ORDER BY k) AS r FROM t"
    )
    assert limited == {"bounded_by_limit"}, limited

    scalar = statuses(
        "WITH t AS (SELECT COUNT(*) AS n, SUM(l_quantity) AS s FROM "
        "lineitem) SELECT RANK() OVER (ORDER BY n) AS r FROM t"
    )
    assert scalar == {"bounded_by_scalar_agg"}, scalar
