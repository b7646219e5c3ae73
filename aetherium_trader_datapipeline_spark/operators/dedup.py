"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB): every variant avoids the quadratic all-pairs join —
candidates come from equality joins on content hashes (exact), shared
shingles (Jaccard), LSH band buckets (MinHash), or signature chunks
(SimHash). Skewed buckets (stop-shingles) are the classic failure mode;
`max_shingle_freq` drops shingles shared by too many docs, which both
bounds the join fan-out and removes noise pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup: first row per distinct key set (hash-groupBy)."""
    return df.dropDuplicates(cols)


def content_hash_dups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Groups of ids sharing identical content (sha2 equality join)."""
    h = df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("h"))
    return (
        h.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.col("n") > 1)
    )


def _shingles(df: DataFrame, id_col: str, text_col: str, size: int) -> DataFrame:
    """Distinct word-``size``-gram shingles per doc (lowercased).

    The split array is materialized in its own projection: referencing
    ``split(lower(text))`` directly inside the transform lambda would
    inline it at every element_at, re-tokenizing the document once per
    gram term (measured 10x slower at 5k docs). CollapseProject keeps the
    two-step form because collapsing would duplicate a non-cheap
    expression, so the split runs once per row.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.split(F.lower(F.col(text_col)), " ").alias("ws")
    )
    ws = F.col("ws")
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0] — short docs
    # must produce an empty shingle set, not out-of-range indexing
    n_grams = F.size(ws) - (size - 1)
    idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, (i + j).cast("int")) for j in range(size)]
        ),
    )
    # per-doc dedup happens INSIDE the row (array_distinct before explode):
    # same result set as explode().distinct() — a shingle is distinct within
    # its doc — but map-side, removing a full (id, sh) shuffle from every
    # consumer (minhash, simhash, decontaminate, jaccard)
    return base.select("id", F.explode(F.array_distinct(gram)).alias("sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_size: int = 2,
    max_shingle_freq: int | None = None,
    round_digits: int = 4,
    join_parallelism: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing >= 1 shingle.

    inter(a,b) via shingle equality join; |a| and |b| from per-doc counts;
    J = inter / (|a| + |b| - inter). Pairs sharing nothing have J=0 and are
    (deliberately) not emitted — at scale they are the overwhelming
    majority and carry no signal.

    ``join_parallelism`` (r14): when the caller KNOWS the self-join
    explodes far beyond its input (a corpus-proportional df cap keeps
    shingles shared by up to 0.2n docs, each emitting C(f,2) pair rows),
    AQE coalesces the join's exchange to ~1 task because the INPUT is a
    few MB — pass e.g. 2×defaultParallelism to pin the exchange width.
    Leave None for selective caps (rare-shingle joins), where the extra
    fixed-width exchange is pure overhead.
    """
    sh = _shingles(df, id_col, text_col, shingle_size).cache()
    if max_shingle_freq is not None:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(freq.where(F.col("df") <= max_shingle_freq), "sh").select("id", "sh")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # see join_parallelism in the docstring (measured 28 s -> 3 s for the
    # x46-shaped exploding join at sf0.1 on local[32])
    base = sh if join_parallelism is None else sh.repartition(join_parallelism, "sh")
    a = base.select(F.col("id").alias("a"), "sh")
    b = base.select(F.col("id").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), round_digits
            ).alias("jaccard"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", shingle_size: int = 2, num_perm: int = 32
) -> DataFrame:
    """MinHash signature per doc: min over shingles of xxhash64(seed, shingle)
    for each of ``num_perm`` seeded hash functions — one shuffle, num_perm
    partial-aggregating MIN columns."""
    sh = _shingles(df, id_col, text_col, shingle_size)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"mh{i}") for i in range(num_perm)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_candidates(
    sigs: DataFrame, num_perm: int = 32, bands: int = 8
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band become candidates.

    Plan: explode signatures into (band, band_hash) keys, self-join on the
    bucket — an equality join, so it shuffles on the bucket key and never
    goes quadratic in corpus size.
    """
    rows_per_band = num_perm // bands
    band_cols = []
    for bnd in range(bands):
        cols = [F.col(f"mh{bnd * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(bnd).alias("band"), F.xxhash64(*cols).alias("bh")))
    exploded = sigs.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    # r14: both self-join sides re-derived the signature aggregation (a
    # full shingle explode + num_perm MINs) — materialize the small
    # (id, band, bh) frame once; eager because both sides are read within
    # the one join job (a lazy checkpoint could compute twice concurrently)
    exploded = exploded.localCheckpoint(eager=True)
    a = exploded.select(F.col("id").alias("a"), "band", "bh")
    b = exploded.select(F.col("id").alias("b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = 64
) -> DataFrame:
    """SimHash per doc: sign of per-bit vote sums over token hashes.

    One explode + one groupBy with ``bits`` SUM aggregates — partial
    aggregation keeps the shuffle at one row per doc per mapper.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
    ).withColumn("h", F.xxhash64("w"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select("id", sig.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 12,
    chunks: int = 4,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits, candidate-generated by equality on
    any of ``chunks`` 16-bit signature chunks (pigeonhole: hamming <= c-1
    guarantees some chunk matches when chunks=c; larger radii trade recall).
    """
    sigs = simhash_signatures(df, id_col, text_col)
    width = 64 // chunks
    mask = (1 << width) - 1
    chunk_cols = [
        F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias(f"c{i}")
        for i in range(chunks)
    ]
    # r14: the chunk-candidate union referenced this frame 2*chunks times,
    # re-running the per-bit vote aggregation each time — materialize the
    # one-row-per-doc frame once (eager: every reader lands in the single
    # downstream distinct job, so a lazy checkpoint could recompute
    # concurrently)
    keyed = sigs.select("id", "simhash", *chunk_cols).localCheckpoint(eager=True)
    cand = None
    for i in range(chunks):
        a = keyed.select(F.col("id").alias("a"), F.col("simhash").alias("sa"), F.col(f"c{i}").alias("ck"))
        b = keyed.select(F.col("id").alias("b"), F.col("simhash").alias("sb"), F.col(f"c{i}").alias("ck"))
        c = a.join(b, "ck").where(F.col("a") < F.col("b")).select("a", "b", "sa", "sb")
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.distinct()
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("a", "b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .orderBy("hamming", "a", "b")
    )


# -- Portable (engine-reproducible) MinHash ---------------------------------
# Base hash: first 8 hex chars of md5(shingle) parsed as a 32-bit integer —
# a primitive every SQL engine evaluates identically (Spark: conv(...,16,10);
# DuckDB: '0x'||hex :: BIGINT). Permutations h_i = (a_i*h + b_i) mod p with
# p = 2^61-1; magnitudes bounded (a_i,b_i < 2^30, h < 2^32) so every
# intermediate stays below 2^63 — no overflow, no engine-specific wraparound.
# Slower than the xxhash64 variant (md5 is cryptographic) but the whole
# pipeline becomes oracle-verifiable SQL; use the xxhash64 path in
# production and this one to cross-check its clustering behavior.

PORTABLE_MINHASH_P = (1 << 61) - 1


def portable_perm_consts(num_perm: int) -> tuple[list[int], list[int]]:
    """Deterministic multiplier/offset pairs, odd multipliers < 2^30."""
    mask = (1 << 30) - 1
    a = [(((2 * i + 1) * 0x9E3779B1) & mask) | 1 for i in range(num_perm)]
    b = [((i + 1) * 0x85EBCA77) & mask for i in range(num_perm)]
    return a, b


def _portable_band_explode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """(id, band, bk) rows under the portable hash family — the shared
    front half of the candidate-pair and assignment paths (one shuffle to
    aggregate ``num_perm`` MIN columns, then the band-struct explode).
    Band keys are decimal-string concatenations, identical in any engine."""
    a_c, b_c = portable_perm_consts(num_perm)
    sh = _shingles(df, id_col, text_col, shingle_size)
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("bigint")
    sig = (
        sh.select("id", h.alias("h"))
        .groupBy("id")
        .agg(
            *[
                F.min(
                    (F.lit(a_c[i]) * F.col("h") + F.lit(b_c[i]))
                    % F.lit(PORTABLE_MINHASH_P)
                ).alias(f"mh{i}")
                for i in range(num_perm)
            ]
        )
    )
    rpb = num_perm // bands
    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws(
                "-", *[F.col(f"mh{j * rpb + r}").cast("string") for r in range(rpb)]
            ).alias("bk"),
        )
        for j in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*band_cols)).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bk").alias("bk")
    )


def minhash_portable_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_size: int = 2,
    num_perm: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (a, b, n_bands) under the portable hash family.

    Same plan shape as the xxhash64 path: band explode + equality
    self-join on the bucket. Quadratic in bucket size — pass
    ``max_bucket`` to skip hotter buckets (their members are near-certain
    duplicates better handled by ``minhash_portable_assignments`` +
    connected components, which stays linear), or use the assignment form
    outright on duplicate-heavy corpora.
    """
    exploded = _portable_band_explode(
        df, id_col, text_col, shingle_size, num_perm, bands
    )
    if max_bucket is not None:
        sizes = exploded.groupBy("band", "bk").agg(F.count(F.lit(1)).alias("__n"))
        exploded = (
            exploded.join(sizes, ["band", "bk"])
            .where(F.col("__n") <= max_bucket)
            .drop("__n")
        )
    lhs = exploded.select(F.col("id").alias("a"), "band", "bk")
    rhs = exploded.select(F.col("id").alias("b"), "band", "bk")
    return (
        lhs.join(rhs, ["band", "bk"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def minhash_portable_assignments(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_size: int = 2,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Per-doc representative assignment under the portable hash family —
    the SCALE path for LSH dedup.

    All-pairs candidate output (``minhash_portable_candidates``) is
    quadratic in bucket size: a cluster of k near-identical docs yields
    C(k,2) pairs per band, which blows up exactly when dedup matters most
    (measured: a 10x duplicate-heavy replica produced 31.8 M pairs / 25 s
    where this form emits 4n bucket rows / linear work). Instead, each
    bucket contributes only (member → bucket-min) edges: per doc, the
    smallest peer id sharing any band bucket. Same connectivity — feeding
    these edges to connected components (operators/graph.py) reproduces
    the clusters the pair set implies — but join cardinality is bands×n.

    Returns DISTINCT (id, rep) edges — per doc, one edge to the min id of
    EACH band bucket it shares (not collapsed to a single min: doc 9 in
    buckets {5,9} and {7,9} must emit both 9→5 and 9→7, or the 5–7 link
    the pair graph implies through 9 is lost and clusters under-merge).
    ≤ ``bands`` edges per doc, so cardinality stays linear. Docs absent
    from the result are their own representatives.
    """
    exploded = _portable_band_explode(
        df, id_col, text_col, shingle_size, num_perm, bands
    )
    # Both the join probe side and bucket_min consume `exploded`; without a
    # cut Spark re-derives the whole shingle→md5→16-MIN pipeline twice. The
    # frame is only bands×n small rows — checkpoint it (lazily: the cut
    # materializes on first action, so plan-only callers pay nothing).
    exploded = exploded.localCheckpoint(eager=False)
    bucket_min = exploded.groupBy("band", "bk").agg(F.min("id").alias("rep"))
    return (
        exploded.join(bucket_min, ["band", "bk"])
        .where(F.col("rep") < F.col("id"))
        .select("id", "rep")
        .distinct()
    )


def minhash_incremental_assignments(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_size: int = 2,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental (daily-batch) LSH dedup: match NEW docs against the
    EXISTING corpus only — never corpus × corpus.

    This is the production shape for a growing 100 TB corpus: the old
    side's band explode is computed once per batch (in a real deployment
    it is a stored signature table that only ever appends), reduced to one
    bucket-min representative per (band, bk), and the new batch — usually
    orders of magnitude smaller — probes it with an equi join.  Work per
    batch is O(|new| + |old buckets touched|); re-running the full
    corpus-wide ``minhash_portable_assignments`` every day would be
    O(|corpus|) per batch.

    Returns DISTINCT (id, rep) rows: per NEW doc, the min OLD id of each
    band bucket it shares with the corpus.  New docs absent from the
    result hit no corpus bucket — they are novel (the caller left-joins
    to flag them).  Same portable hash family as
    ``minhash_portable_assignments``, so results are oracle-verifiable.
    """
    new_b = _portable_band_explode(
        new_df, id_col, text_col, shingle_size, num_perm, bands
    )
    old_b = _portable_band_explode(
        old_df, id_col, text_col, shingle_size, num_perm, bands
    )
    old_min = old_b.groupBy("band", "bk").agg(F.min("id").alias("rep"))
    return new_b.join(old_min, ["band", "bk"]).select("id", "rep").distinct()


def simhash_portable_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 60,
    chunks: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs under the portable md5-prefix hash (see
    minhash_portable_candidates): every step — token hash, per-bit vote
    sums, signature assembly, chunk-equality candidates, bit_count hamming
    — evaluates identically in any SQL engine, so the whole pipeline is
    oracle-verifiable. Same scale shape as the xxhash64 path: one explode +
    one groupBy with ``bits`` partial-aggregating SUMs, then a bucket join.

    Chunk width is the quadratic-blowup guard: candidates per bucket grow
    as n/2^width, so width must grow with corpus size. 60 bits / 4 chunks
    gives 15-bit buckets (32 k keys) — measured to hold at 50 k docs where
    the earlier 32-bit/8-bit-chunk form went quadratic.
    """
    width = bits // chunks
    mask = (1 << width) - 1
    # 15 hex chars = 60 bits: the widest md5 prefix that stays below 2^63
    # for both engines' signed-int parse
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("bigint")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(
            F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    sigs = agg.select("id", sig.alias("simhash"))
    chunk_cols = [
        F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias(f"c{i}")
        for i in range(chunks)
    ]
    # r14: same materialization as simhash_neardup_pairs — 2*chunks readers
    keyed = sigs.select("id", "simhash", *chunk_cols).localCheckpoint(eager=True)
    cand = None
    for i in range(chunks):
        a = keyed.select(
            F.col("id").alias("a"), F.col("simhash").alias("sa"), F.col(f"c{i}").alias("ck")
        )
        b = keyed.select(
            F.col("id").alias("b"), F.col("simhash").alias("sb"), F.col(f"c{i}").alias("ck")
        )
        c = a.join(b, "ck").where(F.col("a") < F.col("b")).select("a", "b", "sa", "sb")
        cand = c if cand is None else cand.unionByName(c)
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.distinct()
        .select("a", "b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
