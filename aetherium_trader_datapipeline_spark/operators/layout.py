"""Multi-dimensional data layout: z-order clustering for file skipping.

The reference prunes on one dimension — `{symbol}_{YYYYMMDD_HH}` filenames
(repositories/parquet.rs:45-48, detectors/gap.rs:36-46). At 100 TB you
also need pruning on the dimensions you did NOT partition by (user, key
range, time within a partition). Z-ordering interleaves the bits of
several grid-quantized columns into one sort key; range-partitioning and
sorting by that key makes every file a tight hyper-rectangle in all
clustered dimensions, so parquet min/max footer stats skip files for
predicates on ANY of them — the same mechanism Delta OPTIMIZE ZORDER uses,
built here from plain Spark expressions (JVM-side, no UDF).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interleave(cols: list[Column], bits: int) -> Column:
    """Bit-interleave grid coordinates (already in [0, 2^bits)) into one
    BIGINT. Pure shift/or expression tree — whole-stage-codegen friendly."""
    n = len(cols)
    parts = []
    for i in range(bits):
        for j, c in enumerate(cols):
            parts.append(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 12
) -> tuple[DataFrame, str]:
    """Append a `__zkey` column interleaving `cols` (numeric/timestamp).

    Each column is min-max scaled to a 2^bits grid. The min/max pass is one
    cheap agg (footer-stat-backed for parquet sources); at 1000 executors
    it's a single job over footers, not a data scan bottleneck.
    """
    num = [
        F.col(c).cast("double")
        if dict(df.dtypes)[c] not in ("timestamp",)
        else F.col(c).cast("long").cast("double")
        for c in cols
    ]
    stats = df.agg(
        *[F.min(e).alias(f"mn{i}") for i, e in enumerate(num)],
        *[F.max(e).alias(f"mx{i}") for i, e in enumerate(num)],
    ).head()
    grid = []
    top = (1 << bits) - 1
    for i, e in enumerate(num):
        mn, mx = float(stats[f"mn{i}"]), float(stats[f"mx{i}"])
        span = (mx - mn) or 1.0
        grid.append(
            F.least(F.lit(top), F.floor((e - F.lit(mn)) / F.lit(span) * top)).cast("long")
        )
    return df.withColumn("__zkey", _interleave(grid, bits)), "__zkey"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by z-order: range-partition on the key
    (contiguous key ranges per file → tight per-file bounding boxes in all
    `cols`), sort within partitions (tight row-group stats), drop the key."""
    zdf, key = zorder_key(df, cols, bits)
    (
        zdf.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode(mode)
        .parquet(path)
    )


def file_skipping_stats(
    spark, path: str, col: str
) -> DataFrame:
    """Per-file min/max of `col` — what a footer-stat pruner sees. Used to
    measure layout quality: sum of per-file ranges / global range ≈ the
    fraction of files a random point predicate must read."""
    df = spark.read.parquet(path)
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
        .orderBy("file")
    )


def hilbert_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    out_col: str = "__hkey",
    method: str = "auto",
) -> DataFrame:
    """Append a Hilbert-curve distance column for grid coordinates
    (x_col, y_col) in [0, 2^bits) — the standard iterative xy2d transform
    (Wikipedia's public-domain formulation).

    Implementation note: the fold CANNOT be one nested Column expression —
    each level's rotated x references the previous level's x AND y inside
    CASE branches, so a naive fold grows a 3^bits expression tree and
    OOMs the analyzer at bits = 8 (measured).  Instead each level is its
    own projection over NAMED intermediate columns; Catalyst keeps the
    per-level trees linear (CollapseProject declines to inline non-cheap
    multiply-referenced expressions), and the whole chain still runs
    inside whole-stage codegen with no UDF.

    Versus Morton (z-order), Hilbert never makes the long diagonal jumps
    between quadrants, so consecutive key ranges are tighter rectangles —
    measurably fewer files scanned per zone-map predicate (x304 reports
    the comparison; Delta/Iceberg expose the same layout choice).

    ``method``: "lookup" broadcast-joins a driver-built 4^bits table
    (the curve's whole domain — 65,536 rows at bits=8; the r7 fast path:
    the 8-level CASE projection chain over 60M rows was a large share of
    x304's keyed pass, where the hash join costs one probe per row),
    "expr" keeps the pure-Column fold (no driver table — required once
    4^bits stops being broadcastable, bits > 12), "auto" picks lookup
    for bits <= 10.
    """
    if method not in ("auto", "expr", "lookup"):
        raise ValueError(f"unknown method {method!r}")
    if method == "lookup" or (method == "auto" and bits <= 10):
        n = 1 << bits
        rows = [
            (x * n + y, hilbert_xy2d(x, y, bits))
            for x in range(n)
            for y in range(n)
        ]
        lut = df.sparkSession.createDataFrame(rows, "__hk bigint, __hd bigint")
        # LEFT join so malformed input (NULL or out-of-[0, 2^bits)
        # coordinates) yields a NULL key instead of silently dropping the
        # row — losing rows from a layout operator is never acceptable.
        # The probe key is RANGE-GUARDED per coordinate: without the
        # guard, an out-of-range y with in-range x (n=256, x=3, y=300 →
        # 1068) aliases x*n + y onto a DIFFERENT cell's LUT entry and
        # returns a wrong non-NULL key (advisor r8) — only overflows
        # past n² would have missed the join.  With the guard, every
        # out-of-range or NULL coordinate yields a NULL key, strictly
        # safer than "expr"'s garbage-but-present keys for the same
        # caller bug.
        xb = F.col(x_col).cast("bigint")
        yb = F.col(y_col).cast("bigint")
        in_range = (
            (xb >= 0) & (xb < F.lit(n)) & (yb >= 0) & (yb < F.lit(n))
        )
        return (
            df.withColumn(
                "__hk",
                F.when(in_range, xb * n + yb),
            )
            .join(F.broadcast(lut), "__hk", "left")
            .withColumn(out_col, F.col("__hd"))
            .drop("__hk", "__hd")
        )
    n = 1 << bits
    out = df.withColumns(
        {
            "__hx": F.col(x_col).cast("bigint"),
            "__hy": F.col(y_col).cast("bigint"),
            "__hd": F.lit(0).cast("bigint"),
        }
    )
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        rx = F.shiftright(F.col("__hx"), k).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("__hy"), k).bitwiseAND(F.lit(1))
        out = out.withColumns({"__rx": rx, "__ry": ry})
        quad = (
            F.when((F.col("__rx") == 1) & (F.col("__ry") == 1), 2)
            .when(F.col("__rx") == 1, 3)
            .when(F.col("__ry") == 1, 1)
            .otherwise(0)
        )
        out = out.withColumns(
            {
                "__hd": F.col("__hd") + F.lit(s * s).cast("bigint") * quad,
                "__hx2": (
                    F.when(
                        (F.col("__ry") == 0) & (F.col("__rx") == 1),
                        F.lit(n - 1) - F.col("__hy"),
                    )
                    .when(F.col("__ry") == 0, F.col("__hy"))
                    .otherwise(F.col("__hx"))
                ),
                "__hy2": (
                    F.when(
                        (F.col("__ry") == 0) & (F.col("__rx") == 1),
                        F.lit(n - 1) - F.col("__hx"),
                    )
                    .when(F.col("__ry") == 0, F.col("__hx"))
                    .otherwise(F.col("__hy"))
                ),
            }
        )
        out = out.withColumns(
            {"__hx": F.col("__hx2"), "__hy": F.col("__hy2")}
        ).drop("__hx2", "__hy2", "__rx", "__ry")
    return out.withColumn(out_col, F.col("__hd")).drop("__hx", "__hy", "__hd")


def hilbert_xy2d(x: int, y: int, bits: int = 8) -> int:
    """Pure-Python reference for :func:`hilbert_d_expr` (tests pin the
    Column fold against this loop)."""
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_clustered_key(
    df: DataFrame, cols: list[str], bits: int = 8
) -> tuple[DataFrame, str]:
    """Two-column analogue of :func:`zorder_key` on the Hilbert curve:
    min-max scale both columns to a 2^bits grid (same one-agg stats pass,
    footer-backed for parquet), then :func:`hilbert_key`.  Exactly two
    columns — the classic xy2d transform; for >2 dims use Morton
    (:func:`zorder_key`), whose interleave generalizes trivially."""
    if len(cols) != 2:
        raise ValueError("hilbert_clustered_key takes exactly two columns")
    num = [
        F.col(c).cast("double")
        if dict(df.dtypes)[c] not in ("timestamp",)
        else F.col(c).cast("long").cast("double")
        for c in cols
    ]
    stats = df.agg(
        *[F.min(e).alias(f"mn{i}") for i, e in enumerate(num)],
        *[F.max(e).alias(f"mx{i}") for i, e in enumerate(num)],
    ).head()
    top = (1 << bits) - 1
    grid = []
    for i, e in enumerate(num):
        mn, mx = float(stats[f"mn{i}"]), float(stats[f"mx{i}"])
        span = (mx - mn) or 1.0
        grid.append(
            F.least(F.lit(top), F.floor((e - F.lit(mn)) / F.lit(span) * top)).cast(
                "long"
            )
        )
    out = df.withColumn("__gx", grid[0]).withColumn("__gy", grid[1])
    out = hilbert_key(out, "__gx", "__gy", bits, out_col="__hkey")
    return out.drop("__gx", "__gy"), "__hkey"


def write_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 8,
    curve: str = "hilbert",
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered along a space-filling curve: range-partition
    on the curve key (contiguous key ranges per file → tight per-file
    bounding boxes in all ``cols``), sort within partitions, drop the key.
    ``curve`` = 'hilbert' (two columns; tighter boxes, x304's measured
    comparison) or 'morton' (any column count; = write_zordered)."""
    if curve == "hilbert":
        kdf, key = hilbert_clustered_key(df, cols, bits)
    elif curve == "morton":
        kdf, key = zorder_key(df, cols, bits)
    else:
        raise ValueError(f"unknown curve: {curve!r}")
    (
        kdf.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode(mode)
        .parquet(path)
    )


def grid_rank(
    df: DataFrame,
    bucket: str,
    order_cols: list[str],
    out: str,
    grid_source: DataFrame | None = None,
) -> DataFrame:
    """Append the exact global ROW_NUMBER rank under the total order
    (bucket, *order_cols) — decomposed scalably (r7, VERDICT r6 ask #8):
    a global ``ROW_NUMBER() OVER (ORDER BY ...)`` is a single-partition
    sort of the whole frame; this computes the identical rank as
    ``cum_before(bucket) + rank within bucket``, where the cumulative
    offsets live on the collapsed bucket grid (sub-linear — a
    distinct-value or contiguous-range grid per the global-band policy
    in tests/test_plan_audit.py) and the within-bucket window is
    key-partitioned.

    ``bucket`` is a SQL expression string; it must be the LEADING
    component of the intended total order (or a monotone function of it,
    e.g. ``l_orderkey DIV 8192`` for an ``ORDER BY l_orderkey, ...``).
    Rank ties inside (bucket, *order_cols) groups permute arbitrarily —
    exactly as they do in the single-sort form.

    PLAN NOTE: the bucket grid is computed by aggregating ``df`` itself,
    so ``df`` appears TWICE in the final plan (grid branch + data
    branch).  When ``df`` is itself expensive (e.g. the output of a
    previous grid_rank), either pass ``grid_source`` — a CHEAPER frame
    with the SAME ROWS (the raw scan a previous grid_rank decorated;
    bucket counts depend only on the row multiset, so the grid is
    identical and the expensive frame executes once) — or materialize
    ``df`` first with :func:`materialize_disk` (NOT localCheckpoint,
    whose deserialized on-heap rows OOM an 8 GB local JVM at two
    60M-row frames; measured, r12).  An out-of-sync grid_source (row
    set differs from df under the bucket expression) silently corrupts
    ranks — it is the caller's contract, used only where provenance is
    a straight-line select.
    """
    from pyspark.sql import Window

    grid = _bucket_offset_grid(
        df if grid_source is None else grid_source, bucket
    ).drop("__c")
    w = Window.partitionBy("__b").orderBy(*order_cols)
    # eqNullSafe: the grid's groupBy already carries the NULL-bucket group,
    # so a NULL bucket expression ranks (first — Spark's NULLS FIRST window
    # order) instead of silently vanishing, matching what a single global
    # ROW_NUMBER would do.  No forced broadcast: a contiguous-key chunk
    # grid is |keys|/8192 rows — a forced driver collect of ~2e7 rows at
    # lake scale would undo the two-level bound above; AQE still picks a
    # broadcast join on its own whenever the grid is actually small
    # (r11 review).
    return (
        df.withColumn("__b", F.expr(bucket))
        .join(grid, F.col("__b").eqNullSafe(F.col("__gb")))
        .withColumn(out, F.col("__cb") + F.row_number().over(w))
        .drop("__b", "__gb", "__cb")
    )


def _bucket_counts(
    df: DataFrame, bucket: str, weight: str | None = None
) -> DataFrame:
    """Collapsed per-bucket counts ``(__b, __c)`` — the mergeable half of
    the grid (counts sum across batches; offsets do not, so they are
    derived separately in :func:`_offsets_from_counts`)."""
    if weight is None:
        return (
            df.select(F.expr(bucket).alias("__b"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
    return (
        df.select(F.expr(bucket).alias("__b"), F.col(weight))
        .groupBy("__b")
        .agg(F.sum(weight).alias("__c"))
    )


def _bucket_offset_grid(
    df: DataFrame, bucket: str, weight: str | None = None
) -> DataFrame:
    """Collapsed bucket grid ``(__gb, __c, __cb)`` for a SQL bucket
    expression over ``df``: per-bucket row count and the exact count of
    rows in strictly-smaller buckets (cum_before), computed with
    two-level offsets so no window ever sees more than the super-bucket
    grid.  Shared by :func:`grid_rank` and :func:`ntile_bucket`.

    ``weight``: when ``df`` is itself an already-collapsed grid carrying
    per-row counts (e.g. a (cell, count) joint histogram), name the count
    column — offsets then accumulate SUM(weight) instead of COUNT(*), so
    curve-order ranks can be decomposed over the tiny grid without ever
    re-aggregating the underlying rows."""
    return _offsets_from_counts(_bucket_counts(df, bucket, weight))


def _offsets_from_counts(counts: DataFrame) -> DataFrame:
    """Exact cum-before offsets over a collapsed ``(__b, __c)`` grid."""
    from pyspark.sql import Window

    # TWO-LEVEL offsets (r11): the bucket grid itself can be linear in
    # rows (a contiguous-key chunk grid is |keys|/8192), so its prefix
    # sum must not run through one unpartitioned window either.  A
    # monotone super-bucket (integer DIV for numeric buckets, year() for
    # dates) partitions the level-1 cumsum; the only global band left is
    # the super-bucket grid.  Non-coarsenable bucket types fall back to
    # the single-level band with the sub-linear-grid argument.
    btype = dict(counts.dtypes)["__b"]
    if btype in ("bigint", "int", "smallint", "tinyint"):
        sup = F.expr("__b DIV 8192")  # trunc-div is weakly monotone
    elif btype in ("date", "timestamp", "timestamp_ntz"):
        # year() is weakly monotone for timestamps too — without this
        # branch a timestamp bucket (the fixtures' l_shipdate is
        # TIMESTAMP_NTZ) silently fell to the single-level band (r12)
        sup = F.expr("year(__b)")
    elif btype in ("double", "float"):
        # FLOOR(double) returns LONG and silently maps NaN to 0 —
        # which would rank NaN buckets FIRST instead of last, breaking
        # the single-sort equivalence (r11 review).  Map NaN to +Inf
        # explicitly: it sorts after every finite super-bucket (a +Inf
        # data value floors/clamps to ~9.2e18, still below +Inf), so
        # NaN keeps its Spark sort position (last).  Overflowing
        # magnitudes clamp to Long.Max inside FLOOR — clamping is
        # weakly monotone, which is all the decomposition needs.
        sup = F.expr(
            "CASE WHEN isnan(__b) THEN double('Infinity') "
            "ELSE CAST(FLOOR(__b / 8192.0) AS DOUBLE) END"
        )
    elif btype.startswith("decimal"):
        sup = F.expr("CAST(FLOOR(__b / 8192.0) AS DOUBLE)")  # no NaN in decimals
    elif btype == "string":
        # A fixed-length prefix is weakly monotone under the default
        # binary (UTF8_BINARY) collation: a <= b implies prefix(a) <=
        # prefix(b), which is all the two-level decomposition needs.
        # Before this, string buckets silently fell back to the
        # single-level band — fine for a bounded symbol domain, linear
        # through one task for a high-cardinality string bucket
        # (r11 advice).  4 chars keeps the super grid tiny for natural
        # keys (symbols, dates-as-strings, hex prefixes) while still
        # splitting large domains.
        sup = F.expr("substring(__b, 1, 4)")
    else:
        sup = None
    if sup is None:
        wg = Window.orderBy("__b")
        return counts.select(
            F.col("__b").alias("__gb"),
            F.col("__c"),
            (F.sum("__c").over(wg) - F.col("__c")).alias("__cb"),
        )
    else:
        counts2 = counts.withColumn("__b2", sup)
        w_in = Window.partitionBy("__b2").orderBy("__b")
        lvl1 = counts2.withColumn(
            "__cin", F.sum("__c").over(w_in) - F.col("__c")
        )
        w2 = Window.orderBy("__b2").rowsBetween(
            Window.unboundedPreceding, -1
        )
        k2p = (
            counts2.groupBy("__b2")
            .agg(F.sum("__c").alias("__s2"))
            .select(
                "__b2",
                F.coalesce(F.sum("__s2").over(w2), F.lit(0)).alias("__off2"),
            )
        )
        return (
            # eqNullSafe: the NULL bucket's super-bucket is NULL too; a
            # plain equi-join would drop it and the downstream inner
            # join would silently lose every NULL-bucket data row
            lvl1.join(
                k2p.withColumnRenamed("__b2", "__kb2"),
                F.col("__b2").eqNullSafe(F.col("__kb2")),
            )
            .select(
                F.col("__b").alias("__gb"),
                F.col("__c"),
                (F.col("__off2") + F.col("__cin")).alias("__cb"),
            )
        )


def ntile_bucket(
    df: DataFrame,
    bucket: str,
    order_cols: list[str],
    n_total: int,
    k: int,
    out: str,
) -> DataFrame:
    """Append the exact ``NTILE(k) OVER (ORDER BY bucket, *order_cols)``
    tile WITHOUT ranking every row (r12, VERDICT r11 ask #3).

    A global NTILE needs far less resolution than a global rank: a tile
    holds ~n/k rows, so almost every bucket of the leading column lies
    entirely inside ONE tile.  Decomposition:

    - bucket grid (collapsed, two-level offsets): each bucket's rank
      range is [__cb+1, __cb+__c]; its tile range is
      [ntile_from_rank(__cb+1), ntile_from_rank(__cb+__c)].
    - WHOLE buckets (tile range is one tile — the overwhelming majority
      of rows): the tile comes straight from the broadcast grid join —
      no shuffle of those rows at all.
    - STRADDLING buckets (at most k-1 of them): only their rows pay a
      bucket-partitioned rank window; the tile is
      ntile_from_rank(__cb + within-bucket row_number).

    At 100x (60M lineitem rows, 2.5k date buckets, k=256) this windows
    ~10% of rows instead of exchanging and sorting all of them.  Tie
    rows inside (bucket, *order_cols) groups permute arbitrarily across
    a tile boundary — exactly as NTILE's row_number tie-break does.
    """
    return _ntile_assign(
        df, _bucket_offset_grid(df, bucket), bucket, order_cols, n_total, k, out
    )


def _ntile_assign(
    df: DataFrame,
    offsets: DataFrame,
    bucket: str,
    order_cols: list[str],
    n_total: int,
    k: int,
    out: str,
) -> DataFrame:
    """Whole/straddling-bucket NTILE assignment from a prebuilt offsets
    grid ``(__gb, __c, __cb)`` — shared by :func:`ntile_bucket` (grid
    from ``df`` itself) and :func:`ntile_bucket_from_grid` (grid merged
    incrementally across batches)."""
    from pyspark.sql import Window

    # The grid feeds BOTH the whole and straddling branches; without
    # materialization each branch re-runs the full counts aggregation
    # (measured: 2 extra 60M-row scans+aggs per call at 100x).  The grid
    # is bucket-cardinality-sized, so the checkpoint is a few KB-MB.
    grid = (
        offsets
        .withColumns(
            {
                "__tlo": ntile_from_rank(F.col("__cb") + F.lit(1), n_total, k),
                "__thi": ntile_from_rank(
                    F.col("__cb") + F.col("__c"), n_total, k
                ),
            }
        )
        .localCheckpoint(eager=False)
    )
    whole = grid.where(F.col("__tlo") == F.col("__thi")).select(
        "__gb", F.col("__tlo").alias(out)
    )
    strad = grid.where(F.col("__tlo") != F.col("__thi")).select("__gb", "__cb")
    keyed = df.withColumn("__b", F.expr(bucket))
    easy = keyed.join(whole, F.col("__b").eqNullSafe(F.col("__gb"))).drop(
        "__b", "__gb"
    )
    w = Window.partitionBy("__b").orderBy(*order_cols)
    hard = (
        keyed.join(strad, F.col("__b").eqNullSafe(F.col("__gb")))
        .withColumn(
            out,
            ntile_from_rank(
                F.col("__cb") + F.row_number().over(w), n_total, k
            ),
        )
        .drop("__b", "__gb", "__cb")
    )
    return easy.unionByName(hard)


def materialize_disk(df: DataFrame) -> DataFrame:
    """Mark ``df`` for single-execution reuse with DISK_ONLY storage.

    Why not ``localCheckpoint``: it stores DESERIALIZED row objects on
    the executor heap (MEMORY_AND_DISK) — two or three 60M-row
    checkpoints in one 8 GB local JVM thrash the GC and can OOM
    (measured, r12).  DISK_ONLY keeps the columnar-compressed batches
    off-heap entirely, stays LAZY (so benchmarks time the real work —
    an eager temp-parquet spill would run at plan-construction time,
    outside the timed window), and on a cluster bounds executor memory
    the same way.  Use for wide intermediates with multiple plan
    consumers; tiny grids can stay on localCheckpoint."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.DISK_ONLY)


def ntile_from_rank(rank: Column, n_total: int, k: int) -> Column:
    """Reconstruct NTILE(k) from an exact global rank, integer-exactly:
    the first ``n_total % k`` buckets hold ``n_total DIV k + 1`` rows,
    the rest ``n_total DIV k`` — the standard semantics both Spark and
    DuckDB implement.

    All arithmetic is bigint (``div`` — Spark's IntegralDivide), so the
    reconstruction is exact at ANY n_total, not just below the ~2^40
    boundary where double-division FLOOR(x/y) starts mis-rounding."""
    q, r = divmod(n_total, k)
    if q == 0:
        return rank.cast("int")
    threshold = r * (q + 1)
    rk = rank.cast("bigint")
    big = F.call_function("div", rk + F.lit(q), F.lit(q + 1).cast("bigint"))
    small = F.lit(r) + F.call_function(
        "div", rk - F.lit(threshold) + F.lit(q - 1), F.lit(q).cast("bigint")
    )
    return F.when(rank <= F.lit(threshold), big).otherwise(small).cast("int")


# ---------------------------------------------------------------------------
# Incremental layout state (candidate family, SURVEY.md §2.4; library
# only, no registry key): a GROWING table's NTILE/layout decisions should not
# rescan history every batch.  The per-bucket count grid is the mergeable
# sufficient statistic — counts sum across batches (offsets don't, so they
# are derived from the merged grid at assignment time).  Store the grid as
# a tiny table next to the data; each ingest batch merges its own counts
# in; re-layout jobs assign tiles from the stored grid without the
# counting scan.
# ---------------------------------------------------------------------------


def bucket_count_grid(df: DataFrame, bucket: str) -> DataFrame:
    """Mergeable layout state: ``(bucket_value, n_rows)`` per distinct
    value of the SQL ``bucket`` expression (NULL is a real bucket).  One
    map-side-partial aggregation; grid-sized output."""
    return _bucket_counts(df, bucket).select(
        F.col("__b").alias("bucket_value"), F.col("__c").alias("n_rows")
    )


def merge_count_grids(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two count grids (union + re-sum — associative and
    commutative, so daily grids fold into monthly into total in any
    order; NULL buckets merge via the groupBy's NULL group)."""
    return (
        a.unionByName(b)
        .groupBy("bucket_value")
        .agg(F.sum("n_rows").alias("n_rows"))
    )


def ntile_bucket_from_grid(
    df: DataFrame,
    grid: DataFrame,
    bucket: str,
    order_cols: list[str],
    k: int,
    out: str,
    n_total: int | None = None,
    on_missing_bucket: str = "error",
) -> DataFrame:
    """:func:`ntile_bucket` with the counting scan replaced by a stored
    (possibly incrementally merged) :func:`bucket_count_grid`.  Assigning
    over the FULL data the grid describes is exact — identical to
    ``ntile_bucket`` recomputed from scratch (the tests pin this).

    Assigning a PARTIAL frame (e.g. only the newest batch) is exact for
    every whole bucket — the broadcast-grid fast path, the overwhelming
    majority — but the <=k-1 straddling buckets rank only the rows
    present in ``df``, so their intra-bucket tile split can differ from
    a full recompute.  Callers wanting batch-only assignment should
    route straddling buckets' historical rows in, or accept the
    bounded approximation.

    ``n_total`` defaults to the grid's total row count (one scalar agg
    over the tiny grid).  The grid MUST describe ``df``'s population
    (same bucket expression): buckets the grid under-counts mis-tile,
    and rows whose bucket is ABSENT from the grid match neither
    assignment branch — with ``on_missing_bucket='error'`` (default) a
    third anti-join branch fails the job at execution time naming the
    offending bucket, because a re-layout that silently drops rows is
    never acceptable; pass ``'drop'`` to skip the guard branch (one scan
    cheaper) only when the grid provably covers ``df`` (e.g. it was just
    merged from this very batch)."""
    if on_missing_bucket not in ("error", "drop"):
        raise ValueError(f"unknown on_missing_bucket: {on_missing_bucket!r}")
    if n_total is None:
        n_total = int(
            grid.agg(F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n")).head()["n"]
        )
    counts = grid.select(
        F.col("bucket_value").alias("__b"), F.col("n_rows").alias("__c")
    )
    assigned = _ntile_assign(
        df, _offsets_from_counts(counts), bucket, order_cols, n_total, k, out
    )
    if on_missing_bucket == "drop":
        return assigned
    missing = (
        df.withColumn("__b", F.expr(bucket))
        .join(
            counts.select(F.col("__b").alias("__gb")),
            F.col("__b").eqNullSafe(F.col("__gb")),
            "left_anti",
        )
        .withColumn(
            out,
            F.raise_error(
                F.concat(
                    F.lit(
                        "ntile_bucket_from_grid: bucket value absent from "
                        "the count grid (stale/unmerged grid): "
                    ),
                    F.coalesce(F.col("__b").cast("string"), F.lit("NULL")),
                )
            ).cast("int"),
        )
        .drop("__b")
    )
    return assigned.unionByName(missing)
