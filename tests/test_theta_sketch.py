"""Theta/KMV sketch family (operators/sketches.py): exact mode, the
lossless merge==direct property, estimator error bounds, and set
operations pinned bit-for-bit against a pure-Python KMV reference.

Candidate family from SURVEY.md §2.4; it ships as a library with these
tests and has no registry key.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from aetherium_trader_datapipeline_spark.operators.sketches import (
    theta_a_not_b,
    theta_estimate,
    theta_intersect,
    theta_sketch,
    theta_union,
)


# ---------------------------------------------------------------------------
# Pure-Python KMV reference (same convention: retain the k smallest
# distinct hashes; theta = the (k+1)-th smallest, NULL when unsaturated)
# ---------------------------------------------------------------------------

def _py_sketch(hashes, k):
    hs = sorted(set(hashes))
    if len(hs) >= k + 1:
        return hs[:k], hs[k]
    return hs, None


def _py_theta_min(ta, tb):
    if ta is None:
        return tb
    if tb is None:
        return ta
    return min(ta, tb)


def _py_filter(hs, theta):
    return hs if theta is None else [h for h in hs if h < theta]


def _py_union(sa, sb, k):
    t = _py_theta_min(sa[1], sb[1])
    merged = sorted(set(_py_filter(sa[0], t)) | set(_py_filter(sb[0], t)))
    if len(merged) > k:
        return merged[:k], merged[k]
    return merged, t


def _py_intersect(sa, sb):
    t = _py_theta_min(sa[1], sb[1])
    return sorted(set(_py_filter(sa[0], t)) & set(_py_filter(sb[0], t))), t


def _py_a_not_b(sa, sb):
    t = _py_theta_min(sa[1], sb[1])
    return sorted(set(_py_filter(sa[0], t)) - set(_py_filter(sb[0], t))), t


def _rows(sketch_df, group_col=None):
    """{group: (tuple(hashes), theta)} from a sketch DataFrame."""
    out = {}
    for r in sketch_df.collect():
        key = r[group_col] if group_col else None
        out[key] = (tuple(r.theta_hashes), r.theta)
    return out


# ---------------------------------------------------------------------------
# exact mode
# ---------------------------------------------------------------------------

def test_theta_exact_mode_matches_distinct(spark, tables):
    """k above every group's NDV → theta NULL and the estimate is the
    EXACT per-group distinct count (NULL values excluded, standard
    COUNT(DISTINCT) semantics)."""
    ev = tables["events"].withColumn("d", F.to_date("ts"))
    sk = theta_estimate(theta_sketch(ev, ["d"], "user_id", k=1 << 20))
    got = {r.d: r.estimate for r in sk.collect()}
    exact = {
        r.d: r.nd
        for r in ev.groupBy("d")
        .agg(F.count_distinct("user_id").alias("nd"))
        .collect()
    }
    assert set(got) == set(exact)
    for d, nd in exact.items():
        assert got[d] == float(nd), d
    assert all(r.theta is None for r in sk.collect())


def test_theta_null_values_dropped(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, None), (1, "b"), (2, None)], "g int, v string"
    )
    sk = theta_estimate(theta_sketch(df, ["g"], "v", k=16))
    got = {r.g: r.estimate for r in sk.collect()}
    # group 2 has only NULLs -> no sketch row at all (no distinct values)
    assert got == {1: 2.0}


# ---------------------------------------------------------------------------
# merge == direct (the KMV lossless-merge property), saturated regime
# ---------------------------------------------------------------------------

def test_theta_union_merge_equals_direct_saturated(spark, tables):
    ev = tables["events"]
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    a, b = ev.where(F.col("event_id") <= mid), ev.where(F.col("event_id") > mid)
    k = 256  # well below events' user NDV so both halves saturate
    sa = theta_sketch(a, [], "user_id", k=k)
    sb = theta_sketch(b, [], "user_id", k=k)
    merged = _rows(theta_union(sa, sb, []))
    direct = _rows(theta_sketch(ev, [], "user_id", k=k))
    assert merged == direct
    # commutativity, same bit-for-bit result
    assert _rows(theta_union(sb, sa, [])) == direct


def test_theta_estimate_error_bound(spark):
    """Saturated global sketch over 200k distinct ids: the KMV estimator
    lands within ~4/sqrt(k) of truth (deterministic — xxhash64 is a fixed
    function, so this is a regression pin, not a flaky bound)."""
    n, k = 200_000, 1024
    df = spark.range(n)
    est = theta_estimate(theta_sketch(df, [], "id", k=k)).head().estimate
    assert abs(est - n) / n < 4 / math.sqrt(k)


# ---------------------------------------------------------------------------
# set operations — exact mode gives exact set cardinalities
# ---------------------------------------------------------------------------

def test_theta_set_ops_exact_small(spark):
    a = spark.createDataFrame(
        [("g1", i) for i in range(100)] + [("only_a", i) for i in range(7)],
        "g string, v long",
    )
    b = spark.createDataFrame(
        [("g1", i) for i in range(60, 160)] + [("only_b", i) for i in range(5)],
        "g string, v long",
    )
    k = 4096
    sa, sb = theta_sketch(a, ["g"], "v", k=k), theta_sketch(b, ["g"], "v", k=k)
    union = {r.g: r.estimate for r in theta_estimate(theta_union(sa, sb, ["g"])).collect()}
    inter = {r.g: r.estimate for r in theta_estimate(theta_intersect(sa, sb, ["g"])).collect()}
    diff = {r.g: r.estimate for r in theta_estimate(theta_a_not_b(sa, sb, ["g"])).collect()}
    assert union == {"g1": 160.0, "only_a": 7.0, "only_b": 5.0}
    assert inter == {"g1": 40.0, "only_a": 0.0, "only_b": 0.0}
    assert diff == {"g1": 60.0, "only_a": 7.0, "only_b": 0.0}


def test_theta_set_ops_saturated_match_python_reference(spark):
    """Saturated regime (k=64): Spark sketch construction, union,
    intersection, and difference retain EXACTLY the hashes and theta the
    pure-Python KMV reference computes from the same xxhash64 values."""
    k = 64
    ids_a = list(range(0, 3000))          # overlaps b on [1000, 3000)
    ids_b = list(range(1000, 4500))
    a = spark.createDataFrame([(i,) for i in ids_a], "v long")
    b = spark.createDataFrame([(i,) for i in ids_b], "v long")
    # the same hash function Spark uses, collected once
    hmap = {
        r.v: r.h
        for r in spark.createDataFrame(
            [(i,) for i in sorted(set(ids_a) | set(ids_b))], "v long"
        )
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    }
    pa = _py_sketch([hmap[i] for i in ids_a], k)
    pb = _py_sketch([hmap[i] for i in ids_b], k)
    sa, sb = theta_sketch(a, [], "v", k=k), theta_sketch(b, [], "v", k=k)
    assert _rows(sa)[None] == (tuple(pa[0]), pa[1])
    assert _rows(sb)[None] == (tuple(pb[0]), pb[1])

    got_u = _rows(theta_union(sa, sb, []))[None]
    got_i = _rows(theta_intersect(sa, sb, []))[None]
    got_d = _rows(theta_a_not_b(sa, sb, []))[None]
    exp_u, exp_i, exp_d = _py_union(pa, pb, k), _py_intersect(pa, pb), _py_a_not_b(pa, pb)
    assert got_u == (tuple(exp_u[0]), exp_u[1])
    assert got_i == (tuple(exp_i[0]), exp_i[1])
    assert got_d == (tuple(exp_d[0]), exp_d[1])


def test_theta_two_level_prune_invariant_to_salt(spark):
    """The salted two-level k-min prune is an implementation detail: any
    salt_buckets value yields the identical sketch (the k smallest per
    group always survive level 1)."""
    df = spark.range(50_000)
    base = _rows(theta_sketch(df, [], "id", k=128, salt_buckets=64))
    for s in (1, 7, 256):
        assert _rows(theta_sketch(df, [], "id", k=128, salt_buckets=s)) == base


# ---------------------------------------------------------------------------
# many-way rollup merge (theta_merge)
# ---------------------------------------------------------------------------

def test_theta_merge_rollup_equals_direct(spark, tables):
    """Daily sketch rows merged to weekly and to global equal the direct
    sketches of the same populations bit-for-bit (KMV lossless merge),
    and the one-shot merge equals the pairwise theta_union fold."""
    from aetherium_trader_datapipeline_spark.operators.sketches import theta_merge

    k = 128  # saturate at events scale
    ev = tables["events"].withColumn("d", F.to_date("ts"))
    daily = theta_sketch(ev, ["d"], "user_id", k=k)

    weekly_m = theta_merge(
        daily.withColumn("wk", F.date_trunc("week", "d")).drop("d"), ["wk"]
    )
    weekly_d = theta_sketch(
        ev.withColumn("wk", F.date_trunc("week", F.to_date("ts"))), ["wk"], "user_id", k=k
    )
    assert _rows(weekly_m, "wk") == _rows(weekly_d, "wk")

    global_m = theta_merge(daily.drop("d"), [])
    global_d = theta_sketch(ev, [], "user_id", k=k)
    assert _rows(global_m) == _rows(global_d)

    # pairwise fold over the daily rows == the one-shot merge
    parts = daily.collect()
    sks = [
        spark.createDataFrame([r], daily.schema).drop("d") for r in parts[:4]
    ]
    folded = sks[0]
    for nxt in sks[1:]:
        folded = theta_union(folded, nxt, [])
    subset = spark.createDataFrame(parts[:4], daily.schema).drop("d")
    assert _rows(folded) == _rows(theta_merge(subset, []))


def test_theta_merge_preserves_empty_sketch_groups(spark):
    """A group whose every sketch row is empty (legal output of
    intersect/difference) must survive the merge with its theta floor,
    not vanish through the explode."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType, StringType,
    )

    from aetherium_trader_datapipeline_spark.operators.sketches import theta_merge

    schema = StructType([
        StructField("g", StringType()),
        StructField("theta_hashes", ArrayType(LongType())),
        StructField("theta", LongType()),
        StructField("theta_k", IntegerType()),
    ])
    df = spark.createDataFrame(
        [
            ("empty_exact", [], None, 16),
            ("empty_thresh", [], -5_000_000_000_000_000_000, 16),
            ("mixed", [], -4_000_000_000_000_000_000, 16),
            ("mixed", [-8_000_000_000_000_000_000, -7_000_000_000_000_000_000], None, 16),
        ],
        schema,
    )
    got = _rows(theta_merge(df, ["g"]), "g")
    assert got["empty_exact"] == ((), None)
    assert got["empty_thresh"] == ((), -5_000_000_000_000_000_000)
    # mixed group: hashes below the saturated row's theta survive
    assert got["mixed"] == (
        (-8_000_000_000_000_000_000, -7_000_000_000_000_000_000),
        -4_000_000_000_000_000_000,
    )


# ---------------------------------------------------------------------------
# k-min hash sample (deterministic mergeable uniform sample)
# ---------------------------------------------------------------------------

def test_kmin_sample_merge_equals_direct(spark, tables):
    """On a unique key, merge of split-half samples == the direct sample
    of the union, row-identical; sample size == min(k, group size);
    salt choice is invisible."""
    from aetherium_trader_datapipeline_spark.operators.sketches import (
        kmin_sample,
        kmin_sample_merge,
    )

    ev = tables["events"].select("event_id", "user_id", "ts", "value")
    k = 50
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    a = ev.where(F.col("event_id") <= mid)
    b = ev.where(F.col("event_id") > mid)
    direct = sorted(
        map(tuple, kmin_sample(ev, [], "event_id", k).collect())
    )
    merged = sorted(
        map(
            tuple,
            kmin_sample_merge(
                kmin_sample(a, [], "event_id", k),
                kmin_sample(b, [], "event_id", k),
                [],
                k,
            ).collect(),
        )
    )
    assert merged == direct and len(direct) == k
    for s in (1, 7):
        assert (
            sorted(map(tuple, kmin_sample(ev, [], "event_id", k, salt_buckets=s).collect()))
            == direct
        )


def test_kmin_sample_stratified_and_small_groups(spark, tables):
    """Per-group sampling: every group contributes min(k, its distinct
    keys) rows, and each sampled row belongs to its group."""
    from aetherium_trader_datapipeline_spark.operators.sketches import (
        kmin_sample,
    )

    ev = tables["events"].withColumn("d", F.to_date("ts"))
    k = 11
    got = kmin_sample(ev, ["d"], "event_id", k)
    sizes = {r.d: r.n for r in got.groupBy("d").count().withColumnRenamed("count", "n").collect()}
    per_day = {
        r.d: r.n
        for r in ev.groupBy("d").agg(F.count_distinct("event_id").alias("n")).collect()
    }
    assert set(sizes) == set(per_day)
    for d, n in per_day.items():
        assert sizes[d] == min(k, n), d
    # sampled rows really come from their day
    bad = got.where(F.to_date("ts") != F.col("d")).count()
    assert bad == 0
