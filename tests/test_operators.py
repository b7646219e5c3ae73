"""Operator-level tests: properties the oracle harness can't express —
LSH recall vs exact baselines, approx-aggregate tolerances, two-table
as-of semantics vs pandas merge_asof, validation routing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_asof_join_matches_merge_asof(spark):
    from aetherium_trader_datapipeline_spark.operators.asof import asof_join

    trades = pd.DataFrame(
        {
            "sym": ["A"] * 4 + ["B"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:05", "2024-01-01 10:00:10", "2024-01-01 10:00:10",
                 "2024-01-01 10:00:30", "2024-01-01 09:59:59", "2024-01-01 10:00:20",
                 "2024-01-01 10:01:00"]
            ),
            "qty": [1, 2, 3, 4, 5, 6, 7],
        }
    )
    quotes = pd.DataFrame(
        {
            "sym": ["A", "A", "A", "B", "B"],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00", "2024-01-01 10:00:10", "2024-01-01 10:00:20",
                 "2024-01-01 10:00:00", "2024-01-01 10:00:45"]
            ),
            "px": [100.0, 101.0, 102.0, 200.0, 201.0],
        }
    )
    out = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        ts_col="ts",
        key_cols=["sym"],
        right_value_cols=["px"],
    ).toPandas()
    expected = pd.merge_asof(
        trades.sort_values("ts"), quotes.sort_values("ts"), on="ts", by="sym"
    )
    got = out.sort_values(["sym", "ts", "qty"]).reset_index(drop=True)
    exp = expected.sort_values(["sym", "ts", "qty"]).reset_index(drop=True)
    assert list(got["qty"]) == list(exp["qty"])
    assert [x if pd.notna(x) else None for x in got["px_r"]] == [
        x if pd.notna(x) else None for x in exp["px"]
    ]


@pytest.mark.parametrize("direction", ["forward", "nearest"])
def test_asof_join_directions_match_merge_asof(spark, direction):
    """forward/nearest as-of == pandas merge_asof with the same direction
    (incl. the nearest equal-distance-prefers-backward tie rule)."""
    from aetherium_trader_datapipeline_spark.operators.asof import asof_join

    trades = pd.DataFrame(
        {
            "sym": ["A"] * 5 + ["B"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:05", "2024-01-01 10:00:10", "2024-01-01 10:00:15",
                 "2024-01-01 10:00:30", "2024-01-01 10:00:50", "2024-01-01 09:59:59",
                 "2024-01-01 10:00:20", "2024-01-01 10:01:00"]
            ),
            "qty": [1, 2, 3, 4, 5, 6, 7, 8],
        }
    )
    quotes = pd.DataFrame(
        {
            "sym": ["A", "A", "A", "B", "B"],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00", "2024-01-01 10:00:10", "2024-01-01 10:00:20",
                 "2024-01-01 10:00:00", "2024-01-01 10:00:45"]
            ),
            "px": [100.0, 101.0, 102.0, 200.0, 201.0],
        }
    )
    # 10:00:15 sits exactly between quotes at :10 and :20 — the tie row.
    out = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        ts_col="ts",
        key_cols=["sym"],
        right_value_cols=["px"],
        direction=direction,
    ).toPandas()
    expected = pd.merge_asof(
        trades.sort_values("ts"), quotes.sort_values("ts"), on="ts", by="sym",
        direction=direction,
    )
    got = out.sort_values(["sym", "ts", "qty"]).reset_index(drop=True)
    exp = expected.sort_values(["sym", "ts", "qty"]).reset_index(drop=True)
    assert list(got["qty"]) == list(exp["qty"])
    assert [x if pd.notna(x) else None for x in got["px_r"]] == [
        x if pd.notna(x) else None for x in exp["px"]
    ]


def test_validate_ticks_routing(spark):
    from aetherium_trader_datapipeline_spark.operators.validate import validate_ticks

    rows = [
        ("2024-01-01T00:00:00", "NQ", 100.0, 1, 100.25, 1, 100.0, 1),   # valid
        ("2024-01-01T00:00:01", "", 100.0, 1, 100.25, 1, 100.0, 1),      # empty symbol
        ("2024-01-01T00:00:02", "NQ", -1.0, 1, 100.25, 1, 100.0, 1),     # negative bid
        ("2024-01-01T00:00:03", "NQ", 100.0, 1, 0.0, 1, 100.0, 1),       # zero ask
    ]
    df = spark.createDataFrame(
        rows,
        "timestamp STRING, symbol STRING, bid_price DOUBLE, bid_size INT, "
        "ask_price DOUBLE, ask_size INT, last_price DOUBLE, last_size INT",
    )
    valid, quarantine = validate_ticks(df)
    assert valid.count() == 1
    assert quarantine.count() == 3


def test_minhash_lsh_recall(spark, tables):
    """LSH candidates must recall >= 80% of exact-Jaccard pairs >= 0.4."""
    from aetherium_trader_datapipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = tables["documents"]
    exact = (
        ngram_jaccard_pairs(docs, "doc_id", shingle_size=2)
        .where(F.col("jaccard") >= 0.4)
        .select("a", "b")
        .collect()
    )
    truth = {(r.a, r.b) for r in exact}
    if not truth:
        pytest.skip("fixture has no pairs above threshold at this SF")
    sigs = minhash_signatures(docs, "doc_id", shingle_size=2, num_perm=32)
    cand = {(r.a, r.b) for r in minhash_lsh_candidates(sigs, 32, bands=16).collect()}
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.8, f"recall {recall} over {len(truth)} true pairs"


def test_ann_lsh_recall_on_planted_neardups(spark, tables):
    """Plant near-duplicate vectors (tiny perturbation → cos ~0.999); the
    LSH path must recover >= 80% of the planted pairs."""
    import numpy as np

    from aetherium_trader_datapipeline_spark.operators.similarity import ann_lsh_pairs

    base = tables["embeddings"].limit(50).toPandas()
    rng = np.random.RandomState(7)
    planted = base.copy()
    planted["vec_id"] = planted["vec_id"] + 1_000_000
    planted["embedding"] = planted["embedding"].apply(
        lambda v: (np.array(v) + rng.normal(0, 0.01, len(v))).astype("float32").tolist()
    )
    both = pd.concat([base, planted])
    df = spark.createDataFrame(both[["vec_id", "embedding"]])
    got = ann_lsh_pairs(df, "vec_id", "embedding", dim=64, n_planes=12, n_tables=6)
    hits = {(r.a, r.b) for r in got.where(F.col("sim") >= 0.98).collect()}
    truth = {(int(v), int(v) + 1_000_000) for v in base["vec_id"]}
    recall = len(truth & hits) / len(truth)
    assert recall >= 0.8, f"planted-pair recall {recall}"


def test_simhash_close_texts_low_hamming(spark):
    from aetherium_trader_datapipeline_spark.operators.dedup import simhash_neardup_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (3, "completely different content about spark shuffle partitions and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = {(r.a, r.b): r.hamming for r in simhash_neardup_pairs(df, "doc_id", max_hamming=20).collect()}
    assert (1, 2) in pairs, f"near-identical docs not paired: {pairs}"


def test_approx_count_distinct_tolerance(spark, tables):
    exact = {
        r.o_orderstatus: r.n
        for r in tables["orders"]
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    approx = {
        r.o_orderstatus: r.approx_custs
        for r in tables["orders"]
        .groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey").alias("approx_custs"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, n, approx[k])


def test_percentile_approx_tolerance(spark, tables):
    li = tables["lineitem"]
    approx = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.9], 10000).alias("p")
    ).collect()[0].p
    exact = li.agg(F.expr("percentile(l_extendedprice, array(0.5, 0.9))").alias("p")).collect()[0].p
    for a, e in zip(approx, exact):
        assert abs(a - e) / e < 0.05


def test_gap_detection_islands(spark):
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps

    # present: 1-3, 6, 10-12 of Jan → gaps: 4-5, 7-9, 13-15 (range to Jan 15)
    present = spark.createDataFrame(
        [("2024-01-0%d" % d,) for d in (1, 2, 3, 6)] + [("2024-01-1%d" % d,) for d in (0, 1, 2)],
        "d STRING",
    ).selectExpr("CAST(d AS DATE) AS d")
    gaps = detect_gaps(present, "2024-01-01", "2024-01-15").collect()
    got = [(str(g.gap_start), str(g.gap_end), g.days) for g in gaps]
    assert got == [
        ("2024-01-04", "2024-01-05", 2),
        ("2024-01-07", "2024-01-09", 3),
        ("2024-01-13", "2024-01-15", 3),
    ]


def test_reversed_date_range_rejected_before_spark_work(spark):
    """start > end raises ValueError when the plan is built, like the
    reference's DateRange (date_range.rs:11-16); detect_gaps used to fail
    only at collect(), with a JVM IllegalArgumentException."""
    from aetherium_trader_datapipeline_spark.operators.backfill import plan_backfill_days
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps, missing_days

    present = spark.createDataFrame([], "d DATE")
    for build in (detect_gaps, missing_days, plan_backfill_days):
        with pytest.raises(ValueError, match="start 2024-01-05 is after end 2024-01-02"):
            build(present, "2024-01-05", "2024-01-02")


def test_backfill_plan_resume_and_gaps(spark):
    from aetherium_trader_datapipeline_spark.operators.backfill import plan_backfill_days
    import datetime as dt

    present = spark.createDataFrame(
        [(f"2024-01-{d:02d}",) for d in range(1, 21) if d not in (5, 6, 15)], "d STRING"
    ).selectExpr("CAST(d AS DATE) AS d")
    cursor_ms = int(dt.datetime(2024, 1, 4, 12, tzinfo=dt.timezone.utc).timestamp() * 1000)
    plan = [str(r.d) for r in plan_backfill_days(present, "2024-01-01", "2024-01-20", cursor_ms).collect()]
    # resume day (partial) + missing days after the cursor
    assert plan == ["2024-01-04", "2024-01-05", "2024-01-06", "2024-01-15"]


def test_connected_components_hand_graph(spark):
    """Path 1-2-3-4, isolated pair 10-11, self-contained triangle 20-21-22:
    components must be min-id per reachable set."""
    from aetherium_trader_datapipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src LONG, dst LONG",
    )
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # both execution paths: single-task union-find and the distributed loop
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == expect
    dist = {
        r.node: r.component
        for r in connected_components(edges, local_threshold_edges=0).collect()
    }
    assert dist == expect


def test_connected_components_long_chain(spark):
    """50-node path: pointer jumping must converge well inside max_iter
    (log2(50) ≈ 6 rounds, not 50)."""
    from aetherium_trader_datapipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(50)], "src LONG, dst LONG")
    got = {
        r.node: r.component
        for r in connected_components(
            edges, max_iter=10, local_threshold_edges=0
        ).collect()
    }
    assert set(got.values()) == {0} and len(got) == 51


def test_dedup_clusters_canonical_min(spark):
    from aetherium_trader_datapipeline_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame([(5, 9), (9, 7), (100, 101)], "a LONG, b LONG")
    got = {r.id: r.canonical_id for r in dedup_clusters(pairs).collect()}
    assert got == {5: 5, 9: 5, 7: 5, 100: 100, 101: 100}


def test_ann_ivf_recall_on_planted_neardups(spark, tables):
    """Same planted-pair protocol as the LSH test: IVF with 8 cells and
    4 probes must recover >= 80% of near-identical planted pairs."""
    import numpy as np

    from aetherium_trader_datapipeline_spark.operators.similarity import ann_ivf_pairs

    base = tables["embeddings"].limit(50).toPandas()
    rng = np.random.RandomState(7)
    planted = base.copy()
    planted["vec_id"] = planted["vec_id"] + 1_000_000
    planted["embedding"] = planted["embedding"].apply(
        lambda v: (np.array(v) + rng.normal(0, 0.01, len(v))).astype("float32").tolist()
    )
    both = pd.concat([base, planted])
    df = spark.createDataFrame(both[["vec_id", "embedding"]])
    got = ann_ivf_pairs(df, "vec_id", "embedding", n_centroids=8, n_probe=4)
    hits = {(r.a, r.b) for r in got.where(F.col("sim") >= 0.98).collect()}
    truth = {(int(v), int(v) + 1_000_000) for v in base["vec_id"]}
    recall = len(truth & hits) / len(truth)
    assert recall >= 0.8, f"planted-pair recall {recall}"


def test_asof_join_pandas_equals_window_form(spark, tables):
    """merge_asof cogroup strategy == tagged-union window strategy."""
    from aetherium_trader_datapipeline_spark.operators.asof import asof_join, asof_join_pandas

    ev = tables["events"]
    clicks = ev.where("event_type = 'click'").select("user_id", "ts", "event_id")
    views = ev.where("event_type = 'view'").select("user_id", "ts", "event_id", "value")

    a = asof_join(clicks, views, "ts", ["user_id"], ["event_id", "value"])
    b = asof_join_pandas(clicks, views, "ts", ["user_id"], ["event_id", "value"])
    ka = sorted(map(tuple, a.select(*sorted(a.columns)).collect()))
    kb = sorted(map(tuple, b.select(*sorted(b.columns)).collect()))
    assert ka == kb and len(ka) > 0


def test_minhash_hash_families_agree_on_dup_groups(spark):
    """Production (xxhash64) and portable (md5) MinHash pipelines recover
    the SAME duplicate clusters on a corpus with planted near-dup groups —
    the cross-check that justifies using the fast hash family in
    production and the portable one for oracle verification."""
    from aetherium_trader_datapipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_portable_assignments,
        minhash_signatures,
    )

    # Long texts: one perturbed word leaves bigram-Jaccard ≈ 0.93, far above
    # the band threshold, so candidate recall is ~certain per pair.
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank while "
        "morning fog settles across the quiet valley and birds begin their song "
        "above the old stone bridge crossing the shallow water",
        "spark partitions shuffle planning broadcast joins adaptive execution "
        "catalyst optimizer whole stage codegen tungsten memory format column "
        "pruning predicate pushdown dynamic partition elimination runtime filters",
        "parquet footers row groups dictionary encoding page statistics bloom "
        "filters column chunks compression codecs schema evolution metadata "
        "caching vectorized readers arrow batches zero copy buffers",
    ]
    rows = []
    doc_id = 0
    for g, text in enumerate(base):
        for copy in range(4):  # 4 near-identical copies per group
            words = text.split()
            if copy:  # perturb one word so copies are near- not exact dups
                words[copy] = words[copy] + "x"
            rows.append((doc_id, g, " ".join(words)))
            doc_id += 1
    df = spark.createDataFrame(rows, "doc_id LONG, grp LONG, text STRING")

    # Production path: candidate pairs -> cluster by transitivity.
    sigs = minhash_signatures(df, "doc_id", num_perm=32)
    pairs = minhash_lsh_candidates(sigs, num_perm=32, bands=8).collect()
    parent = {i: i for i in range(doc_id)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r.a)] = find(r.b)
    prod_clusters = {}
    for i in range(doc_id):
        prod_clusters.setdefault(find(i), set()).add(i)

    # Portable path: bucket-min assignments -> same union-find.
    parent = {i: i for i in range(doc_id)}
    for r in minhash_portable_assignments(df, "doc_id").collect():
        parent[find(r.id)] = find(r.rep)
    port_clusters = {}
    for i in range(doc_id):
        port_clusters.setdefault(find(i), set()).add(i)

    expected = [set(range(g * 4, g * 4 + 4)) for g in range(3)]
    assert sorted(map(sorted, prod_clusters.values())) == sorted(map(sorted, expected))
    assert sorted(map(sorted, port_clusters.values())) == sorted(map(sorted, expected))


def test_assignment_edges_preserve_pair_graph_components(spark, tables):
    """Regression for the bucket-min under-merge: components built from the
    linear (id, rep) assignment edges must equal components built from the
    quadratic all-pairs candidate set — including clusters linked only
    TRANSITIVELY through a doc that shares different buckets with each
    side (one min-edge per doc would break those)."""
    from aetherium_trader_datapipeline_spark.operators.dedup import (
        minhash_portable_assignments,
        minhash_portable_candidates,
    )
    from aetherium_trader_datapipeline_spark.operators.graph import connected_components

    docs = tables["documents"]
    pair_edges = minhash_portable_candidates(docs, "doc_id").select(
        F.col("a").alias("id"), F.col("b").alias("rep")
    )
    assign_edges = minhash_portable_assignments(docs, "doc_id")

    def comps(edges):
        rows = connected_components(edges, src="id", dst="rep").collect()
        byc = {}
        for r in rows:
            byc.setdefault(r.component, set()).add(r.node)
        return sorted(sorted(c) for c in byc.values())

    assert comps(assign_edges) == comps(pair_edges)


def test_minhash_pairs_max_bucket_caps_fanout(spark):
    """The hot-bucket guard: a 12-copy duplicate cluster produces C(12,2)
    pairs uncapped; with max_bucket the bucket is skipped entirely and
    pair output stays bounded while distinct small clusters survive."""
    from aetherium_trader_datapipeline_spark.operators.dedup import (
        minhash_portable_candidates,
    )

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    text_b = "one two three four five six seven eight nine ten eleven " * 3
    rows = [(i, text_a) for i in range(12)] + [(100, text_b), (101, text_b)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    uncapped = minhash_portable_candidates(df, "doc_id").count()
    capped = minhash_portable_candidates(df, "doc_id", max_bucket=5)
    capped_pairs = {(r.a, r.b) for r in capped.collect()}
    assert uncapped >= 66 + 1  # C(12,2) hot cluster + the small pair
    assert (100, 101) in capped_pairs  # small cluster survives the cap
    assert not any(a < 100 for a, _ in capped_pairs)  # hot bucket skipped


def test_holt_linear_exact_across_tiny_arrow_batches(spark):
    """The two-state Holt fold must be invariant to Arrow batch chunking
    (state spans batch boundaries) and bit-equal to a plain Python fold."""
    from aetherium_trader_datapipeline_spark.operators.timeseries import holt_linear

    rows = [
        (k, i, float((k * 37 + i * 13) % 100) / 7.0)
        for k in range(3)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k int, seq int, v double")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        out = (
            holt_linear(df, ["k"], ["seq"], "v", out_cols=["k", "seq"])
            .toPandas()
            .sort_values(["k", "seq"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    a, b, g, h = 0.5, 0.5, 0.25, 0.75
    exp = {}
    for k in range(3):
        lvl = trd = 0.0
        for i in range(100):
            x = float((k * 37 + i * 13) % 100) / 7.0
            if i == 0:
                lvl, trd = x, 0.0
            else:
                l_new = a * x + b * (lvl + trd)
                trd = g * (l_new - lvl) + h * trd
                lvl = l_new
            exp[(k, i)] = (lvl, trd, lvl + trd)

    assert len(out) == 300
    for _, r in out.iterrows():
        el, et, ef = exp[(r["k"], r["seq"])]
        assert r["level"] == el and r["trend"] == et and r["fc"] == ef


def test_avg_cost_pnl_exact_across_tiny_arrow_batches(spark):
    """Keyed-dict fold state must span Arrow batch boundaries; result is
    bit-equal to a plain Python replay of the same accounting."""
    from aetherium_trader_datapipeline_spark.operators.timeseries import avg_cost_pnl

    rows = []
    for k in range(3):
        for i in range(60):
            side = 1 if (k + i) % 3 else -1
            rows.append((k, i, side, 1 + i % 3, float((k * 31 + i * 7) % 50 + 1) / 3.0))
    df = spark.createDataFrame(rows, "k int, seq int, side int, qty bigint, p double")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        out = (
            avg_cost_pnl(df, ["k"], ["seq"])
            .toPandas()
            .sort_values("k")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    for k in range(3):
        pos, cost, realized, n = 0, 0.0, 0.0, 0
        for i in range(60):
            side = 1 if (k + i) % 3 else -1
            q = 1 + i % 3
            p = float((k * 31 + i * 7) % 50 + 1) / 3.0
            n += 1
            if side == 1:
                cost = cost + q * p
                pos += q
            elif pos > 0:
                qe = q if q < pos else pos
                avg = cost / pos
                realized = realized + qe * (p - avg)
                cost = cost - qe * avg
                pos -= qe
        r = out[out["k"] == k].iloc[0]
        assert (r["n_trades"], r["pos"]) == (n, pos)
        assert r["cost"] == cost and r["realized"] == realized


def test_avg_cost_pnl_grouped_matches_fold(spark):
    """The r13 JVM array-fold form must be BIT-identical to the
    mapInPandas fold (same recurrence, same IEEE op order) — the x213
    hash contract. Includes sells against a flat book and qty > pos."""
    from aetherium_trader_datapipeline_spark.operators.timeseries import (
        avg_cost_pnl,
        avg_cost_pnl_grouped,
    )

    rows = []
    for k in range(5):
        for i in range(80):
            side = 1 if (k * 13 + i * 5) % 4 else -1
            rows.append(
                (k, i, side, 1 + (i * 11) % 5, float((k * 37 + i * 17) % 97 + 1) / 7.0)
            )
    # key 9: opens with sells (flat-book no-ops)
    rows += [(9, 0, -1, 3, 5.0), (9, 1, -1, 1, 4.0), (9, 2, 1, 2, 3.0), (9, 3, -1, 5, 6.0)]
    df = spark.createDataFrame(rows, "k int, seq int, side int, qty bigint, p double")

    a = {
        r["k"]: (r["n_trades"], r["pos"], r["cost"], r["realized"])
        for r in avg_cost_pnl(df, ["k"], ["seq"]).collect()
    }
    b = {
        r["k"]: (r["n_trades"], r["pos"], r["cost"], r["realized"])
        for r in avg_cost_pnl_grouped(df, ["k"], ["seq"]).collect()
    }
    assert a == b  # exact float equality — no tolerance


def test_cusum_flags_exact_across_tiny_arrow_batches(spark):
    """CUSUM target latch + side states must span Arrow batch boundaries;
    alarms equal a plain Python replay of cusum_step."""
    from aetherium_trader_datapipeline_spark.operators.timeseries import (
        cusum_flags,
        cusum_step,
    )

    rows = []
    for k in range(2):
        level = 1000
        for i in range(80):
            if i == 40:
                level += 700
            rows.append((k, i, level + ((i * 37 + k * 11) % 300) - 150))
    df = spark.createDataFrame(rows, "k int, seq int, cents bigint")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        out = (
            cusum_flags(df, ["k"], ["seq"], "cents", out_cols=["k", "seq"],
                        k=200, h=400)
            .toPandas()
            .sort_values(["k", "seq"])
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    expected = []
    for k in range(2):
        level = 1000
        st = None
        for i in range(80):
            if i == 40:
                level += 700
            x = level + ((i * 37 + k * 11) % 300) - 150
            if st is None:
                st = [x, 0, 0]
            d = cusum_step(st, x, 200, 400)
            if d is not None:
                expected.append((k, i, d))

    got = [tuple(r) for r in out[["k", "seq", "direction"]].itertuples(index=False)]
    assert got == sorted(expected)
    assert any(d == "hi" for (_, _, d) in expected)  # planted shift alarms


def test_label_propagation_two_cliques_bridge(spark):
    # Two 4-cliques joined by one bridge edge: frequency voting keeps the
    # communities separate where min-id flooding (CC) would merge them.
    import itertools

    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    c1, c2 = [0, 1, 2, 3], [10, 11, 12, 13]
    edges = [(a, b) for a, b in itertools.permutations(c1, 2)]
    edges += [(a, b) for a, b in itertools.permutations(c2, 2)]
    edges += [(3, 10), (10, 3)]  # bridge
    e = spark.createDataFrame(edges, "src long, dst long")
    labs = {r.node: r.lab for r in label_propagation(e, rounds=2).collect()}
    assert len({labs[n] for n in c1}) == 1
    assert len({labs[n] for n in c2}) == 1
    assert labs[0] != labs[11]  # communities stay distinct...
    cc = {r[0]: r[1] for r in connected_components(e).collect()}
    assert len({cc[n] for n in c1 + c2}) == 1  # ...where CC merges them


def test_pagerank_assume_distinct_matches_default(spark):
    # assume_distinct=True is a caller contract (edges already unique);
    # on a genuinely distinct edge list it must be a pure plan
    # optimization — identical ranks to the default path. And the
    # default path must still dedup: feeding duplicated edges with the
    # flag OFF matches the distinct list's result.
    from aetherium_trader_datapipeline_spark.operators.graph import pagerank_fixed

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    e_dup = spark.createDataFrame(edges * 3, "src long, dst long")
    base = sorted(tuple(r) for r in pagerank_fixed(e, iterations=3).collect())
    fast = sorted(
        tuple(r)
        for r in pagerank_fixed(e, iterations=3, assume_distinct=True).collect()
    )
    dedup = sorted(tuple(r) for r in pagerank_fixed(e_dup, iterations=3).collect())
    assert fast == base
    assert dedup == base


def test_minhash_incremental_matches_full_assignment_semantics(spark):
    # A new doc identical to an old one must match it; a novel new doc
    # must be absent from the assignment output.
    import pandas as pd

    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.operators.dedup import (
        minhash_incremental_assignments,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    old = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [base, "completely different words entirely here now"]})
    )
    new = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100, 101], "text": [base, "xq zv qpl mmw ools ppr unseen tokens only"]})
    )
    got = {
        (r.id, r.rep)
        for r in minhash_incremental_assignments(new, old, "doc_id").collect()
    }
    assert (100, 1) in got
    assert all(i != 101 for i, _ in got)  # novel doc matches nothing
    assert all(i >= 100 for i, _ in got)  # old corpus never re-deduped


def test_expectations_count_seeded_violations(spark):
    import pandas as pd

    from aetherium_trader_datapipeline_spark.operators.expectations import (
        accepted_range,
        accepted_values,
        not_null,
        predicate,
        referential,
        run_expectations,
        unique,
    )

    child = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 1, 2, 3, 4],
                "fk": [10, 10, 11, 99, None],
                "qty": [5, 5, -2, 7, 200],
                "status": ["ok", "ok", "bad", "ok", None],
            }
        )
    )
    parent = spark.createDataFrame(pd.DataFrame({"pk": [10, 11, 12]}))
    tables = {"child": child, "parent": parent}
    out = {
        r.rule: (r.n_violations, r.passed)
        for r in run_expectations(
            tables,
            [
                not_null("fk_not_null", "child", "fk"),
                unique("id_unique", "child", "id"),
                accepted_range("qty_range", "child", "qty", 0, 100),
                accepted_values("status_enum", "child", "status", "ok", "warn"),
                referential("fk_ref", "child", "fk", parent, "pk"),
                predicate("qty_odd", "child", "qty % 2 = 1"),
            ],
        ).collect()
    }
    assert out["fk_not_null"] == (1, False)       # one NULL fk
    assert out["id_unique"] == (1, False)         # id=1 twice
    assert out["qty_range"] == (2, False)         # -2 and 200
    assert out["status_enum"] == (2, False)       # 'bad' and NULL
    assert out["fk_ref"] == (1, False)            # fk=99 (NULL fk exempt)
    assert out["qty_odd"] == (2, False)           # -2 and 200 are even


def test_exact_jaccard_pairs_matches_brute_force(spark):
    """The triangle block-GEMM kernel is EXACT: its surviving pairs must
    equal a brute-force Jaccard sweep — including at the small-n edge
    where the parallelism floor caps n_blocks at n (blocks of ~1 row),
    and across the diagonal/off-diagonal group split."""
    import itertools
    import random

    from aetherium_trader_datapipeline_spark.operators.similarity import (
        exact_jaccard_pairs,
    )

    rng = random.Random(307)
    rows = []
    for i in range(60):
        base = set(rng.sample(range(40), rng.randint(5, 15)))
        rows.append((i, sorted(base)))
        if rng.random() < 0.4:  # plant a near-dup one token off
            near = set(base)
            near.add(40 + i)
            rows.append((1000 + i, sorted(near)))
    df = spark.createDataFrame(rows, "id long, toks array<long>")

    got = {
        (r.a, r.b, r.n_common, r.sz_a, r.sz_b)
        for r in exact_jaccard_pairs(
            df, "id", "toks", threshold_num=7, threshold_den=10
        ).collect()
    }

    sets = {i: set(t) for i, t in rows}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        c = len(sets[a] & sets[b])
        if c * 10 >= 7 * (len(sets[a]) + len(sets[b]) - c):
            want.add((a, b, c, len(sets[a]), len(sets[b])))
    assert got == want and len(want) > 0


def test_exact_jaccard_pairs_tiny_n(spark):
    """n smaller than the parallelism floor: n_blocks must cap at n and
    still produce the exact pair set (regression for the r9 floor)."""
    from aetherium_trader_datapipeline_spark.operators.similarity import (
        exact_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 4, 5]), (3, [9, 10])],
        "id long, toks array<long>",
    )
    got = {(r.a, r.b, r.n_common) for r in exact_jaccard_pairs(
        df, "id", "toks", threshold_num=8, threshold_den=10
    ).collect()}
    assert got == {(1, 2, 4)}  # J = 4/5 = 0.8 exactly; (x,3) pairs J=0


def test_block_pair_sims_floor_invariant_in_B(spark):
    """The cosine kernel's pair set must be invariant in the block count:
    the r10 parallelism floor (lifted from exact_jaccard_pairs into
    _block_pair_sims) changes B at bench scale, so prove explicit B=1,
    B=2, B=7 and the default (floored) path all yield identical
    threshold-survivor pair sets — including the small-n edge where the
    floor exceeds ceil(n / block_size)."""
    import math
    import random

    from aetherium_trader_datapipeline_spark.operators.similarity import (
        _block_pair_sims,
    )

    rng = random.Random(35)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(40)
    ]
    # plant exact near-dups so the threshold tier has survivors
    rows += [(100 + i, [x * 1.001 for x in rows[i][1]]) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")

    def pairs(nb):
        out = _block_pair_sims(
            df, "id", "emb", n_blocks=nb, threshold=0.95
        ).collect()
        return {(r.a, r.b, r.sim) for r in out}

    want = pairs(1)
    assert len(want) >= 5
    assert pairs(2) == want
    assert pairs(7) == want
    got_default = {
        (r.a, r.b, r.sim)
        for r in _block_pair_sims(df, "id", "emb", threshold=0.95).collect()
    }
    assert got_default == want

    # the floor itself: the default block count must offer >= 2x
    # defaultParallelism triangle tasks, and must cap at the row count
    from aetherium_trader_datapipeline_spark.operators.similarity import (
        _floored_block_count,
    )

    par = max(1, spark.sparkContext.defaultParallelism)
    n = df.count()
    b = _floored_block_count(df, n, 2048)
    assert b * (b + 1) // 2 >= 2 * par or b == n
    assert b <= n
    assert _floored_block_count(df, 3, 2048) == 3  # tiny n: capped at n
    # large n: memory bound dominates the floor
    assert _floored_block_count(df, 1_000_000, 2048) == 489


def test_block_pair_sims_topk_floor_tiny_n(spark):
    """Top-k path with n below the parallelism floor: blocks of ~1 row
    must still produce the exact global top-k (q35 regression)."""
    from aetherium_trader_datapipeline_spark.operators.similarity import (
        pairwise_cosine_topk,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 1.0, 0.002]),
            (5, [0.0, 0.0, 1.0]),
        ],
        "id long, emb array<double>",
    )
    got = [(r.a, r.b) for r in pairwise_cosine_topk(df, "id", "emb", k=2).collect()]
    assert got == [(1, 2), (3, 4)]


def test_ngram_jaccard_join_parallelism_equivalent(spark, tables):
    """The r14 exploding-join parallelism pin must not change results."""
    from aetherium_trader_datapipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = tables["documents"]
    plain = {
        (r.a, r.b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, "doc_id", max_shingle_freq=100).collect()
    }
    pinned = {
        (r.a, r.b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", max_shingle_freq=100, join_parallelism=7
        ).collect()
    }
    assert plain == pinned and plain


def test_triangle_census_gemm_matches_join(spark, tables, monkeypatch):
    """x189's dense-GEMM kernel and the sparse join fallback must agree."""
    import os

    import aetherium_trader_datapipeline_spark.queries_ext29 as ext29
    from aetherium_trader_datapipeline_spark.queries import REGISTRY

    run = REGISTRY["x189_triangle_census"].run
    d = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    gemm = run(spark, d).collect()
    monkeypatch.setattr(ext29, "_GEMM_MAX_NODES", 0)  # force the join path
    join = run(spark, d).collect()
    assert [tuple(r) for r in gemm] == [tuple(r) for r in join]
