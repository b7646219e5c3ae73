"""Mergeable distinct-count sketches (Apache DataSketches HLL, built into
Spark 4 as hll_sketch_agg / hll_union_agg / hll_sketch_estimate).

The 100 TB pattern: store one small binary sketch per (key, partition)
instead of raw ids, then answer "distinct over ANY key/time range" by
merging sketches — a metadata-sized scan instead of a full-data distinct.
Sketches are commutative/associative, so partial aggregation and AQE apply
exactly as for sums. The reference has no sketch surface; this is part of
the training-data extension (SURVEY.md §2.2 tolerance-checked family,
alongside approx_count_distinct x53).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_rollup(
    df: DataFrame, group_cols: list[str], value_col: str, lgk: int = 12
) -> DataFrame:
    """One HLL sketch (binary column ``sketch``) per group — the stored
    rollup row. lgk=12 → ~2 KB per sketch, ~2% relative error."""
    return df.groupBy(*group_cols).agg(
        F.expr(f"hll_sketch_agg({value_col}, {lgk})").alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hll_merge_estimate(
    rollup: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge stored sketches (optionally regrouped coarser) and estimate
    distinct counts. Merging never rescans the base data."""
    merged = F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("approx_distinct")
    if group_cols:
        return rollup.groupBy(*group_cols).agg(merged, F.sum("n_rows").alias("n_rows"))
    return rollup.agg(merged, F.sum("n_rows").alias("n_rows"))


# ---------------------------------------------------------------------------
# Theta / KMV sketches (set-operation-capable distinct sketches)
#
# HLL answers UNION-distinct only.  A Theta sketch (the Apache DataSketches
# family; Spark has no built-in) is a uniform random sample of the distinct
# hash space — the k SMALLEST 64-bit hashes plus the threshold theta — so it
# additionally supports INTERSECTION and A-NOT-B estimates on stored
# sketches, never rescanning the base data ("how many users did A and B
# share last quarter" from two metadata-sized rollup rows).  This is the
# candidate family recorded in SURVEY.md §2.4; it ships as a library with
# tests and has no registry key.
#
# Representation (one row per group):
#   theta_hashes array<bigint>  -- the retained distinct hashes, ASC-sorted
#   theta        bigint         -- first EXCLUDED hash (the (k+1)-th
#                                  smallest), or NULL = never saturated
#                                  (the sketch is EXACT: every distinct
#                                  hash is retained)
#   theta_k      int            -- nominal capacity k
#
# Estimator: |H| when theta is NULL, else |H| / P(h < theta) with h uniform
# on [-2^63, 2^63): P = (theta + 2^63) / 2^64.  Relative error ~1/sqrt(k).
#
# KMV's merge property makes tests exact, not tolerance-based:
# theta_sketch(A) ∪ theta_sketch(B) retains EXACTLY the same hashes and
# theta as theta_sketch(A ∪ B) at equal k — merging is lossless w.r.t. the
# direct sketch, so stream/batch/rollup paths agree bit-for-bit.
# ---------------------------------------------------------------------------

_TWO63 = float(2**63)
_TWO64 = float(2**64)
_EMPTY_HASHES = "CAST(array() AS array<bigint>)"


def theta_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 4096,
    salt_buckets: int = 64,
) -> DataFrame:
    """One KMV/theta sketch row per group over ``value_col``.

    Plan shape (all JVM-side, no UDF): distinct (group, xxhash64(value))
    via a partial-agg groupBy; then a TWO-LEVEL k-min prune so no window
    task ever sorts more than its salt bucket — level 1 keeps the k+1
    smallest per (group, hash-salt) partition (a superset of the group's
    k+1 smallest: the global minima lie inside their buckets' minima),
    level 2 ranks the surviving <= (k+1)*salt_buckets rows per group.
    The final per-group array is <= k+1 elements — driver-safe to store,
    broadcast-safe to join.

    With empty ``group_cols`` the level-2 window is global but bounded by
    the LITERAL (k+1)*salt_buckets rows level 1 emits (window-gate class:
    bounded-by-literal, not by data).
    """
    h = F.xxhash64(F.col(value_col)).alias("__h")
    uniq = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, h)
        .dropDuplicates([*group_cols, "__h"])
    )
    pruned = _two_level_kmin_prune(uniq, group_cols, "__h", k + 1, salt_buckets)
    arr = F.sort_array(F.collect_list("__h"))
    agg = pruned.groupBy(*group_cols).agg(arr.alias("__arr"))
    sat = F.size(F.col("__arr")) == k + 1
    return agg.select(
        *group_cols,
        F.when(sat, F.slice("__arr", 1, k)).otherwise(F.col("__arr")).alias(
            "theta_hashes"
        ),
        F.when(sat, F.element_at("__arr", k + 1))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("theta"),
        F.lit(k).alias("theta_k"),
    )


def _two_level_kmin_prune(
    uniq: DataFrame,
    group_cols: list[str],
    hash_col: str,
    limit,
    salt_buckets: int,
) -> DataFrame:
    """The salted two-level k-min prune shared by :func:`theta_sketch`,
    :func:`theta_merge`, and :func:`kmin_sample` (one implementation so
    the invariant — level 1 keeps each (group, salt) partition's
    ``limit`` smallest, a superset of the group's ``limit`` smallest;
    level 2 ranks the surviving <= limit*salt_buckets rows — is encoded
    once).  ``limit`` may be an int or a per-row Column (theta_merge's
    per-group k)."""
    from pyspark.sql import Window

    lim = F.lit(limit) if isinstance(limit, int) else limit
    w1 = Window.partitionBy(
        *group_cols, F.pmod(F.col(hash_col), F.lit(salt_buckets))
    ).orderBy(hash_col)
    w2 = Window.partitionBy(*group_cols).orderBy(hash_col)
    return (
        uniq.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= lim)
        .withColumn("__r2", F.row_number().over(w2))
        .where(F.col("__r2") <= lim)
        .drop("__r1", "__r2")
    )


def _theta_fraction(theta) -> F.Column:
    """P(h < theta) for h uniform on [-2^63, 2^63) — the sampled fraction
    of the hash space.  NULL theta (exact sketch) maps to 1.0."""
    t = F.col(theta) if isinstance(theta, str) else theta
    return F.when(t.isNull(), F.lit(1.0)).otherwise(
        (t.cast("double") + F.lit(_TWO63)) / F.lit(_TWO64)
    )


def theta_estimate(sketch: DataFrame, out: str = "estimate") -> DataFrame:
    """Append the distinct-count estimate: exact retained size when the
    sketch never saturated, else size / sampled-fraction."""
    return sketch.withColumn(
        out,
        F.size("theta_hashes").cast("double") / _theta_fraction("theta"),
    )


def _theta_join(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Full-outer join of two sketch tables on the group key (NULL-safe —
    a NULL group value is a real group), with both sides' sketch columns
    renamed apart and the group columns coalesced.  Groups present on one
    side only surface with the other side's sketch columns NULL; each set
    op defines its own identity for the missing side."""
    ra = a.select(
        *[F.col(c).alias(f"__ga_{c}") for c in group_cols],
        F.col("theta_hashes").alias("__ha"),
        F.col("theta").alias("__ta"),
        F.col("theta_k").alias("__ka"),
    )
    rb = b.select(
        *[F.col(c).alias(f"__gb_{c}") for c in group_cols],
        F.col("theta_hashes").alias("__hb"),
        F.col("theta").alias("__tb"),
        F.col("theta_k").alias("__kb"),
    )
    if group_cols:
        cond = reduce(
            lambda x, y: x & y,
            [
                F.col(f"__ga_{c}").eqNullSafe(F.col(f"__gb_{c}"))
                for c in group_cols
            ],
        )
        joined = ra.join(rb, cond, "full_outer")
    else:
        joined = ra.join(rb, F.lit(True), "full_outer")
    return joined.select(
        *[
            F.coalesce(F.col(f"__ga_{c}"), F.col(f"__gb_{c}")).alias(c)
            for c in group_cols
        ],
        "__ha",
        "__ta",
        "__ka",
        "__hb",
        "__tb",
        "__kb",
    )


# min-over-thetas treating NULL as +infinity (exact sketch samples the
# whole space); NULL only when BOTH are NULL.
_THETA_MIN = (
    "CASE WHEN __ta IS NULL THEN __tb WHEN __tb IS NULL THEN __ta "
    "ELSE least(__ta, __tb) END"
)


def _finish(joined: DataFrame, group_cols: list[str], merged: F.Column, trim: bool) -> DataFrame:
    """Common tail: filter the merged hash array to < theta, optionally
    re-trim to k (union can overflow k; intersection/difference cannot
    grow past min(|Ha|, k)), and emit the sketch schema."""
    out = joined.withColumns(
        {
            "__t": F.expr(_THETA_MIN),
            "__k": F.least(
                F.coalesce("__ka", "__kb"), F.coalesce("__kb", "__ka")
            ),
        }
    ).withColumn(
        "__m",
        F.when(
            F.col("__t").isNotNull(),
            F.filter(merged, lambda x: x < F.col("__t")),
        ).otherwise(merged),
    )
    if trim:
        overflow = F.size("__m") > F.col("__k")
        out = out.withColumns(
            {
                "theta_hashes": F.when(
                    overflow, F.slice("__m", F.lit(1), F.col("__k"))
                ).otherwise(F.col("__m")),
                # F.get is 0-based: index k == the (k+1)-th smallest —
                # the first excluded hash, the new theta
                "theta": F.when(
                    overflow, F.get("__m", F.col("__k"))
                ).otherwise(F.col("__t")),
            }
        )
    else:
        out = out.withColumns(
            {"theta_hashes": F.col("__m"), "theta": F.col("__t")}
        )
    return out.select(
        *group_cols, "theta_hashes", "theta", F.col("__k").alias("theta_k")
    )


def theta_merge(
    sketches: DataFrame,
    group_cols: list[str],
    salt_buckets: int = 64,
) -> DataFrame:
    """Many-way union: merge ALL sketch rows within each (possibly
    coarser) group — the rollup pattern :func:`hll_merge_estimate` gives
    HLL (daily theta rows → monthly / global estimates, never rescanning
    base data).  ``sketches`` must carry the :func:`theta_sketch` schema;
    regroup by adding the coarser column first (e.g. ``date_trunc`` of
    the day column).

    Semantics match the pairwise fold exactly (tests pin it): the group
    theta is the min over saturated inputs' thetas (NULL iff every input
    is exact); retained hashes are the distinct input hashes below it,
    re-trimmed to k = min(theta_k) when they overflow — by the KMV
    lossless-merge property this equals the direct sketch of the unioned
    base data, in any fold order or this one-shot form.

    Plan: per-group scalar agg (theta floor + k), explode the <=k-element
    arrays, distinct, the same salted two-level k-min prune as
    construction — bounded windows, grid-sized shuffles."""
    ga = [f"__ga_{c}" for c in group_cols]
    floors = sketches.groupBy(
        *[F.col(c).alias(a) for c, a in zip(group_cols, ga)]
    ).agg(
        # min() already ignores NULLs and is NULL when all inputs are —
        # exactly the "min over saturated inputs, NULL iff all exact"
        # semantics needed
        F.min("theta").alias("__tmin"),
        F.min("theta_k").alias("__k"),
    )
    ex = sketches.select(
        *group_cols, F.explode("theta_hashes").alias("__h")
    )
    if group_cols:
        cond = reduce(
            lambda x, y: x & y,
            [F.col(c).eqNullSafe(F.col(a)) for c, a in zip(group_cols, ga)],
        )
        joined = ex.join(floors, cond).drop(*ga)
    else:
        joined = ex.join(floors, F.lit(True))
    uniq = (
        joined.where(F.col("__tmin").isNull() | (F.col("__h") < F.col("__tmin")))
        .dropDuplicates([*group_cols, "__h"])
    )
    pruned = _two_level_kmin_prune(
        uniq, group_cols, "__h", F.col("__k") + 1, salt_buckets
    )
    agg = pruned.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("__h")).alias("__arr")
    )
    # join the theta floor / k back per group (NOT first() inside the
    # agg: the global form's agg row exists even when nothing survived
    # the explode, and must still carry the floors' theta)
    if group_cols:
        condf = reduce(
            lambda x, y: x & y,
            [F.col(c).eqNullSafe(F.col(a)) for c, a in zip(group_cols, ga)],
        )
        agg = agg.join(floors, condf).drop(*ga)
    else:
        agg = agg.crossJoin(floors)
    sat = F.size(F.col("__arr")) == F.col("__k") + 1
    merged = agg.select(
        *group_cols,
        F.when(sat, F.slice("__arr", F.lit(1), F.col("__k")))
        .otherwise(F.col("__arr"))
        .alias("theta_hashes"),
        # F.get is 0-based: index k == the (k+1)-th smallest
        F.when(sat, F.get("__arr", F.col("__k")))
        .otherwise(F.col("__tmin"))
        .alias("theta"),
        F.col("__k").alias("theta_k"),
    )
    # Groups whose every input sketch is EMPTY (legal: an exact empty
    # sketch, or an intersection/difference result with retained theta)
    # have nothing to explode and would silently vanish; complete them
    # with the empty sketch at the group's theta floor.  Grid-sized
    # anti-join — no data-scale cost.
    if group_cols:
        cond2 = reduce(
            lambda x, y: x & y,
            [F.col(a).eqNullSafe(F.col(c)) for c, a in zip(group_cols, ga)],
        )
        lost = floors.join(merged.select(*group_cols), cond2, "left_anti")
    else:
        lost = floors.join(merged.select(F.lit(1).alias("__one")), F.lit(True), "left_anti")
    return merged.unionByName(
        lost.select(
            *[F.col(a).alias(c) for c, a in zip(group_cols, ga)],
            F.expr(_EMPTY_HASHES).alias("theta_hashes"),
            F.col("__tmin").alias("theta"),
            F.col("__k").alias("theta_k"),
        )
    )


def theta_union(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group union sketch: merged retained hashes below min(theta),
    re-trimmed to k when the merge overflows (the excluded (k+1)-th value
    becomes the new theta — exactly what a direct sketch of the unioned
    data retains, so merge == direct, bit-for-bit)."""
    j = _theta_join(a, b, group_cols)
    merged = F.array_sort(
        F.array_union(
            F.coalesce("__ha", F.expr(_EMPTY_HASHES)),
            F.coalesce("__hb", F.expr(_EMPTY_HASHES)),
        )
    )
    return _finish(j, group_cols, merged, trim=True)


def theta_intersect(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group intersection sketch: hashes retained by BOTH sides below
    min(theta).  Estimate variance is higher than union's (the effective
    sample is the overlap); groups on one side only yield the empty
    sketch.  Never overflows k, so no re-trim."""
    j = _theta_join(a, b, group_cols)
    merged = F.array_intersect(
        F.coalesce("__ha", F.expr(_EMPTY_HASHES)),
        F.coalesce("__hb", F.expr(_EMPTY_HASHES)),
    )
    return _finish(j, group_cols, merged, trim=False)


# ---------------------------------------------------------------------------
# k-min hash sample — a DETERMINISTIC, MERGEABLE uniform row sample
#
# TABLESAMPLE is neither (a new scan draws a new sample; two samples
# can't combine).  Keeping the rows whose xxhash64(key) values are the k
# smallest per group IS a uniform sample over distinct keys (the hash
# order is uniform and data-independent), and it is mergeable exactly
# like KMV: the k smallest of a union are among the union of each side's
# k smallest.  Store the per-batch sample next to the data; debugging a
# 100 TB table then reads k rows per group, re-drawable bit-identically.
# ---------------------------------------------------------------------------


def kmin_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int,
    salt_buckets: int = 64,
) -> DataFrame:
    """Uniform sample of ``k`` rows per group, deterministic in the
    distinct values of ``key_col`` (rows with a NULL key are excluded;
    among duplicate keys one arbitrary representative row survives —
    pass a unique key for fully deterministic payloads).  Output = the
    input columns plus ``sample_hash``, kept for :func:`kmin_sample_merge`.
    Same bounded two-level prune as :func:`theta_sketch`."""
    uniq = (
        df.where(F.col(key_col).isNotNull())
        .withColumn("sample_hash", F.xxhash64(F.col(key_col)))
        .dropDuplicates([*group_cols, "sample_hash"])
    )
    return _two_level_kmin_prune(uniq, group_cols, "sample_hash", k, salt_buckets)


def kmin_sample_merge(
    a: DataFrame, b: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Merge two stored k-min samples into the k-min sample of the
    combined data (exact, any fold order): union, de-duplicate per
    (group, hash), re-prune to the k smallest.  Work is sample-sized
    (<= 2k rows per group), never data-sized."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("sample_hash")
    return (
        a.unionByName(b)
        .dropDuplicates([*group_cols, "sample_hash"])
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .drop("__r")
    )


# ---------------------------------------------------------------------------
# DDSketch-style mergeable quantile sketches
#
# Completes the rollup trio: HLL (union distinct), theta (set-operation
# distinct), and now quantiles.  The DDSketch idea (Masson, Rim, Lee —
# "DDSketch: a fast and fully-mergeable quantile sketch with
# relative-error guarantees", VLDB 2019): log-spaced buckets
# i = ceil(ln|x| / ln(gamma)) with gamma = (1+alpha)/(1-alpha) make every
# bucket's midpoint within relative error alpha of any value it holds, so
# ANY quantile estimate is within alpha of the true value — and the
# sketch is just per-bucket counts, so merging = summing counts, exactly
# (no accuracy loss on merge, unlike rank-error sketches).
#
# Representation here is the repo's grid idiom, not a binary blob: one
# row per (group, kind, bucket) with a count, where kind is -1/0/+1 for
# negative / zero / positive values (negatives mirror into their own
# log buckets; exact zeros get a dedicated bucket).  Bucket cardinality
# is ~ln(value range)/ln(gamma) per sign (~2.3k buckets per decade-span
# of e^1 at alpha=0.01) — metadata-sized, window-safe.
# ---------------------------------------------------------------------------


def dd_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, alpha: float = 0.01
) -> DataFrame:
    """One DDSketch grid per group over numeric ``value_col``: rows
    ``(group..., dd_kind, dd_bucket, dd_count, dd_alpha)``.  NULLs and
    NaNs are excluded (quantiles of the present finite values — Spark's
    percentile functions treat NULL the same way; NaN has no magnitude
    bucket).  One map-side-partial aggregation; no windows."""
    import math

    gamma = (1.0 + alpha) / (1.0 - alpha)
    ln_g = math.log(gamma)
    v = F.col(value_col).cast("double")
    kind = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0))
    bucket = F.when(
        v != 0, F.ceil(F.log(F.abs(v)) / F.lit(ln_g)).cast("int")
    ).otherwise(F.lit(0))
    # finite values only: log(inf) saturates and the cast('int') fails
    # the whole job under ANSI (the repo default) on a single infinite
    # value — with ANSI off it would silently land in one overflow
    # bucket (ADVICE r12).  Same "present finite values" contract as the
    # NULL/NaN exclusions above.
    inf = float("inf")
    return (
        df.where(v.isNotNull() & ~F.isnan(v) & (v != inf) & (v != -inf))
        .groupBy(*group_cols, kind.alias("dd_kind"), bucket.alias("dd_bucket"))
        .agg(F.count(F.lit(1)).alias("dd_count"))
        .withColumn("dd_alpha", F.lit(float(alpha)))
    )


def dd_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two DDSketch grids EXACTLY (sum per-bucket counts) —
    associative and commutative, so daily grids fold into monthly into
    total in any order with zero accuracy loss.  Mixing alphas would
    silently mis-bucket, so mismatched rows fail the job loudly via a
    grid-sized check column."""
    u = a.unionByName(b)
    merged = u.groupBy(
        *[c for c in a.columns if c not in ("dd_count", "dd_alpha")]
    ).agg(F.sum("dd_count").alias("dd_count"))
    # GLOBAL alpha check, not per-bucket: grids over disjoint value
    # ranges share no (kind, bucket) key, so a per-key min/max compare
    # silently passes mixed alphas whose bucket indices are then not
    # value-ordered — exactly the wrong-quantiles case (r12 review).
    # One scalar agg over the union, broadcast onto the grid rows.
    alphas = u.agg(
        F.count_distinct("dd_alpha").alias("__na"),
        F.min("dd_alpha").alias("__amin"),
        F.max("dd_alpha").alias("__amax"),
    )
    # The guard rides dd_count, not dd_alpha: a consumer that only sums
    # counts would let Catalyst column-prune a dd_alpha-only raise_error
    # away and merge mixed-alpha grids silently (ADVICE r12).  Any use
    # of the merged grid evaluates dd_count, so the mismatch always
    # trips; dd_alpha carries the (single) surviving alpha.
    err = F.raise_error(
        F.concat(
            F.lit("dd_merge: mixed alphas "),
            F.col("__amin").cast("string"),
            F.lit(" vs "),
            F.col("__amax").cast("string"),
        )
    )
    return (
        merged.crossJoin(F.broadcast(alphas))
        .withColumn(
            "dd_count",
            F.when(F.col("__na") <= 1, F.col("dd_count")).otherwise(
                err.cast("bigint")
            ),
        )
        .withColumn("dd_alpha", F.col("__amin"))
        .drop("__na", "__amin", "__amax")
    )


def dd_quantiles(
    sketch: DataFrame, group_cols: list[str], qs: list[float]
) -> DataFrame:
    """Per-group quantile estimates from a DDSketch grid: one row per
    (group, q) with ``estimate`` within relative error alpha of the true
    q-quantile of the sketched values.  Rank convention max(1, ceil(q*n))
    — q=0 is the minimum bucket, q=1 the maximum, matching the DDSketch
    paper.  Work is grid-sized: a per-group cumsum window over the
    buckets (bounded by bucket cardinality, not rows), then a small
    crossJoin with the q list."""
    from pyspark.sql import Window

    if not qs or any(q < 0 or q > 1 for q in qs):
        raise ValueError(f"quantiles must be in [0, 1], got {qs!r}")
    # bucket midpoint value and the total order over (kind, bucket):
    # negatives ascend with DESCENDING bucket index (bigger |x| is more
    # negative), zero sits between, positives ascend with the index
    gamma = (F.lit(1.0) + F.col("dd_alpha")) / (F.lit(1.0) - F.col("dd_alpha"))
    mag = F.lit(2.0) * F.pow(gamma, F.col("dd_bucket")) / (gamma + F.lit(1.0))
    val = F.when(F.col("dd_kind") == 1, mag).when(
        F.col("dd_kind") == -1, -mag
    ).otherwise(F.lit(0.0))
    ordi = F.when(
        F.col("dd_kind") == -1, -F.col("dd_bucket")
    ).otherwise(F.col("dd_bucket"))
    w = Window.partitionBy(*group_cols).orderBy("dd_kind", "__ord")
    cum = (
        sketch.withColumns({"__v": val, "__ord": ordi})
        .withColumn("__cum", F.sum("dd_count").over(w))
        .withColumn(
            "__n",
            F.sum("dd_count").over(Window.partitionBy(*group_cols)),
        )
    )
    qdf = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    rank = F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("__n")))
    return (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("__cum") >= rank)
        .groupBy(*group_cols, "q")
        .agg(F.expr("min_by(__v, struct(dd_kind, __ord))").alias("estimate"))
    )


def theta_a_not_b(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group difference sketch (in A, not in B): A's retained hashes
    minus B's, below min(theta).  A-side-only groups pass A's sketch
    through (re-thresholded); B-side-only groups yield the empty
    sketch."""
    j = _theta_join(a, b, group_cols)
    merged = F.array_except(
        F.coalesce("__ha", F.expr(_EMPTY_HASHES)),
        F.coalesce("__hb", F.expr(_EMPTY_HASHES)),
    )
    return _finish(j, group_cols, merged, trim=False)
