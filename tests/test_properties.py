"""Property-based tests (hypothesis): operator semantics vs brute-force
Python references on randomized small inputs — the upgrade over the
reference's example-only unit tests (SURVEY.md §5).

Spark jobs per example are expensive, so examples are few but adversarial
(ties, empty groups, singletons, full coverage); deadlines disabled.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

START = dt.date(2024, 1, 1)


@given(
    present=st.sets(st.integers(min_value=-3, max_value=33), max_size=37),
    span=st.integers(min_value=0, max_value=30),
)
@settings(**SETTINGS)
def test_detect_gaps_matches_bruteforce(spark, present, span):
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps

    end = START + dt.timedelta(days=span)
    # present days outside [START, end] are kept: the range clip is tested too
    days = [START + dt.timedelta(days=i) for i in sorted(present)]
    pdf = spark.createDataFrame([(d,) for d in days] or [(None,)], "d DATE").where(
        "d IS NOT NULL"
    )
    got = [
        (r.gap_start, r.gap_end, r.days)
        for r in detect_gaps(pdf, str(START), str(end)).collect()
    ]

    # brute force: walk the calendar, emit maximal missing runs
    expected, run = [], []
    have = set(days)
    for i in range(span + 1):
        d = START + dt.timedelta(days=i)
        if d not in have:
            run.append(d)
        elif run:
            expected.append((run[0], run[-1], len(run)))
            run = []
    if run:
        expected.append((run[0], run[-1], len(run)))
    assert got == expected


@given(
    present=st.sets(st.integers(min_value=-3, max_value=33), max_size=37),
    span=st.integers(min_value=0, max_value=30),
    cursor=st.one_of(
        st.none(),
        st.tuples(st.integers(min_value=-2, max_value=36), st.integers(0, 86_399_999)),
    ),
)
@settings(**SETTINGS)
def test_plan_backfill_days_matches_bruteforce(spark, present, span, cursor):
    from aetherium_trader_datapipeline_spark.operators.backfill import plan_backfill_days

    end = START + dt.timedelta(days=span)
    have = {START + dt.timedelta(days=i) for i in present}
    pdf = spark.createDataFrame([(d,) for d in sorted(have)] or [(None,)], "d DATE").where(
        "d IS NOT NULL"
    )
    cursor_ms = None
    if cursor is not None:
        day, ms = cursor
        midnight = dt.datetime.combine(START + dt.timedelta(days=day), dt.time(),
                                       tzinfo=dt.timezone.utc)
        cursor_ms = int(midnight.timestamp() * 1000) + ms
    got = [r.d for r in plan_backfill_days(pdf, str(START), str(end), cursor_ms).collect()]

    # brute force, plan_days_to_process (backfill_service.rs:296-317):
    # resume from the cursor's day, then {effective_start} ∪ missing days
    # of [effective_start, end], clipped, sorted, deduped
    eff = START
    if cursor_ms is not None:
        eff = max(eff, dt.datetime.fromtimestamp(cursor_ms / 1000, tz=dt.timezone.utc).date())
    expected, d = [], eff
    while d <= end:
        if d == eff or d not in have:
            expected.append(d)
        d += dt.timedelta(days=1)
    assert got == expected


@given(
    gaps_min=st.integers(min_value=1, max_value=120),
    tss=st.lists(
        st.tuples(st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=10_000)),
        min_size=1,
        max_size=40,
    ),
)
@settings(**SETTINGS)
def test_sessionize_matches_bruteforce(spark, gaps_min, tss):
    from aetherium_trader_datapipeline_spark.operators.sessionize import sessionize

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [(k, base + dt.timedelta(seconds=s)) for k, s in tss]
    df = spark.createDataFrame(rows, "k INT, ts TIMESTAMP")
    got = [
        (r.k, r.session_id, r.n)
        for r in sessionize(df, "ts", ["k"], gap=f"{gaps_min} minutes").collect()
    ]

    expected = []
    bykey: dict[int, list[dt.datetime]] = {}
    for k, t in sorted(rows, key=lambda r: (r[0], r[1])):
        bykey.setdefault(k, []).append(t)
    for k in sorted(bykey):
        sid, n, prev = 0, 0, None
        for t in bykey[k]:
            if prev is None or (t - prev) > dt.timedelta(minutes=gaps_min):
                if n:
                    expected.append((k, sid, n))
                sid, n = sid + 1, 0
            n += 1
            prev = t
        expected.append((k, sid, n))
    assert sorted(got) == sorted(expected)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 9)),
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    """Backward inclusive as-of, incl. timestamp ties on both sides."""
    from aetherium_trader_datapipeline_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    lrows = [(k, base + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)]
    rrows = [(k, base + dt.timedelta(seconds=s), v) for k, s, v in right]
    ldf = spark.createDataFrame(lrows, "k INT, ts TIMESTAMP, lid INT")
    rdf = spark.createDataFrame(rrows or [(None, None, None)], "k INT, ts TIMESTAMP, v INT").where(
        "k IS NOT NULL"
    )
    got = {(r.lid, r.v_r) for r in asof_join(ldf, rdf, "ts", ["k"], ["v"]).collect()}

    expected = set()
    for k, lts, lid in lrows:
        cands = [(rts, v) for rk, rts, v in rrows if rk == k and rts <= lts]
        if not cands:
            expected.add((lid, None))
        else:
            # max ts; among ties the union-form takes the LAST right row in
            # (ts, input-order) — mirror by taking the max (ts, index)
            mts = max(rts for rts, _ in cands)
            last_v = [v for rts, v in cands if rts == mts][-1]
            expected.add((lid, last_v))
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=30
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from aetherium_trader_datapipeline_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src INT, dst INT")
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    # distributed loop must agree with the single-task fast path
    dist = {
        (r.node, r.component)
        for r in connected_components(df, local_threshold_edges=0).collect()
    }
    assert dist == got

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {(n, find(n)) for n in parent}
    assert got == expected


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=60),
)
@settings(**SETTINGS)
def test_pack_sequences_matches_bruteforce_next_fit(spark, tokens):
    import math

    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.operators.curation import pack_sequences

    budget = 200
    rows = [(i, "w " * (t - 1) + "w") for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = pack_sequences(df, budget=budget, n_shards=1).orderBy("doc_id").collect()

    # brute-force next-fit over doc_id order
    pack, fill, expect = 0, 0, []
    for t in tokens:
        if fill > 0 and fill + t > budget:
            pack, fill = pack + 1, 0
        fill += t
        expect.append(pack)
    assert [r["pack_id"] for r in out] == expect
    assert [r["tokens"] for r in out] == tokens
    # next-fit guarantee: at most 2*ceil(total/budget) packs (items <= budget)
    n_packs = max(r["pack_id"] for r in out) + 1
    assert n_packs <= max(1, 2 * math.ceil(sum(tokens) / budget))
    # sharded run partitions the same docs, same per-shard greedy
    sharded = pack_sequences(df, budget=budget, n_shards=3)
    assert sharded.count() == len(tokens)
    over = (
        sharded.groupBy("shard", "pack_id")
        .agg(F.sum("tokens").alias("s"), F.count(F.lit(1)).alias("n"))
        .where((F.col("s") > budget) & (F.col("n") > 1))
    )
    assert over.count() == 0


@given(
    w_lo=st.floats(min_value=0.05, max_value=0.45),
    w_hi=st.floats(min_value=0.5, max_value=0.95),
)
@settings(**SETTINGS)
def test_domain_mix_monotone_in_weight(spark, w_lo, w_hi):
    from aetherium_trader_datapipeline_spark.operators.curation import domain_mix_sample

    rows = [(i, "srcA") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")

    def kept(w):
        weights = spark.createDataFrame([("srcA", float(w))], "source string, w double")
        return {
            r["doc_id"]
            for r in domain_mix_sample(df, weights, default_weight=0.0).collect()
        }

    lo, hi = kept(w_lo), kept(w_hi)
    # hash-threshold sampling is nested: raising the weight only adds rows
    assert lo <= hi


@given(
    trades=st.lists(
        st.tuples(
            st.sampled_from([1, -1]),
            st.integers(min_value=1, max_value=5),
            st.floats(min_value=0.01, max_value=1000, allow_nan=False, width=64),
        ),
        max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_pnl_step_invariants(trades):
    """Average-cost accounting invariants under any trade stream: position
    never negative, open cost non-negative up to one float ulp of the
    subtraction identity, sells never exceed inventory."""
    from aetherium_trader_datapipeline_spark.operators.timeseries import pnl_step

    st_ = [0, 0, 0.0, 0.0]
    for side, q, p in trades:
        pos_before = st_[1]
        pnl_step(st_, side, q, p)
        assert st_[1] >= 0
        if side < 0:
            assert pos_before - st_[1] <= q  # sold at most q
        assert st_[2] >= -1e-6  # cost - pos*(cost/pos) can round below 0
    assert st_[0] == len(trades)


@given(
    xs=st.lists(st.integers(min_value=-(10**6), max_value=10**6), max_size=300),
    k=st.integers(min_value=0, max_value=1000),
    h=st.integers(min_value=1, max_value=5000),
)
@settings(max_examples=200, deadline=None)
def test_cusum_step_invariants(xs, k, h):
    """CUSUM side states stay in [0, h + max_jump]; an alarm always resets
    the alarming side to 0; states are never negative."""
    from aetherium_trader_datapipeline_spark.operators.timeseries import cusum_step

    st_ = None
    for x in xs:
        if st_ is None:
            st_ = [x, 0, 0]
        before = list(st_)
        d = cusum_step(st_, x, k, h)
        assert st_[1] >= 0 and st_[2] >= 0
        if d == "hi":
            assert st_[1] == 0
            assert before[1] + (x - st_[0] - k) > h
        elif d == "lo":
            assert st_[2] == 0
        else:
            assert st_[1] <= h and st_[2] <= h


@given(
    rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    chans=st.integers(min_value=1, max_value=2),
    bits=st.sampled_from([8, 16, 24, 32]),
    n=st.integers(min_value=0, max_value=5000),
)
@settings(max_examples=100, deadline=None)
def test_wav_encode_parse_roundtrip(rate, chans, bits, n):
    from aetherium_trader_datapipeline_spark.operators.multimodal import (
        encode_wav,
        parse_wav_header,
    )

    blob = encode_wav(sample_rate=rate, n_channels=chans, bits=bits, n_samples=n)
    assert parse_wav_header(blob) == (rate, chans, bits, n)


@given(
    # encode_png materializes (1+3w)*h raw bytes before compressing — keep
    # dimensions small enough that an adversarial draw stays in the KB
    # range (header parsing is what's under test, not payload size)
    w=st.integers(min_value=1, max_value=400),
    h=st.integers(min_value=1, max_value=400),
)
@settings(max_examples=100, deadline=None)
def test_image_encode_parse_roundtrip(w, h):
    from aetherium_trader_datapipeline_spark.operators.multimodal import (
        encode_jpeg,
        encode_png,
        parse_image_header,
    )

    assert parse_image_header(encode_png(w, h)) == (w, h, "png")
    assert parse_image_header(encode_jpeg(w, h)) == (w, h, "jpeg")


# ---------------------------------------------------------------------------
# Round-4 kernels: pure-Python properties (no Spark job per example, so
# examples can be generous)
# ---------------------------------------------------------------------------


@given(
    px=st.binary(min_size=0, max_size=3 * 8 * 7),
    w=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(px, w):
    """encode→decode is the identity for ANY pixel content, with every
    filter type in play (h >= 5 rows cycles all five predictors)."""
    from aetherium_trader_datapipeline_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    stride = 3 * w
    h = max(1, len(px) // stride)
    px = (px + bytes(stride * h))[: stride * h]
    for cycle in (False, True):
        out = decode_png_pixels(encode_png(w, h, pixels=px, cycle_filters=cycle))
        assert out.tobytes() == px


@given(
    ts=st.lists(st.integers(min_value=0, max_value=10**6), max_size=40),
    window=st.integers(min_value=1, max_value=10**5),
    splits=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=80, deadline=None)
def test_admit_kernel_batch_split_invariance(ts, window, splits):
    """Folding a sorted arrival sequence through admit_indices in ONE call
    equals folding it in ANY contiguous split (carrying `last` across) —
    the property that makes stream == batch for dup_suppress."""
    from aetherium_trader_datapipeline_spark.streaming.dedup_tws import admit_indices

    ts = sorted(ts)
    keep_once, _ = admit_indices(ts, None, window)
    admitted_once = [ts[i] for i in keep_once]

    # split into up to 4 contiguous chunks at arbitrary cut points
    cuts = sorted({min(len(ts), (i + 1) * len(ts) // (splits + 1)) for i in range(splits)})
    chunks, prev = [], 0
    for c in cuts + [len(ts)]:
        chunks.append(ts[prev:c])
        prev = c
    admitted_split, last = [], None
    for ch in chunks:
        keep, last = admit_indices(ch, last, window)
        admitted_split.extend(ch[i] for i in keep)
    assert admitted_split == admitted_once


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=200, deadline=None)
def test_wire_varint_roundtrip_property(v):
    from aetherium_trader_datapipeline_spark._vendor.protoshim.google.protobuf import (
        wire,
    )

    data = wire.encode_varint(v)
    got, pos = wire.decode_varint(data, 0)
    assert pos == len(data)
    assert got == (v & (1 << 64) - 1 if v < 0 else v)
    assert wire.zigzag_decode(wire.zigzag_encode(v)) == v


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=2, max_size=64
    )
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(samples):
    from aetherium_trader_datapipeline_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav,
    )

    if len(samples) % 2:
        samples = samples + [0]
    n = len(samples) // 2
    arr = decode_wav_samples(encode_wav(8000, 2, n, samples=samples))
    assert arr.flatten().tolist() == samples


@given(
    items=st.lists(st.integers(min_value=0, max_value=12), min_size=0, max_size=120),
    k=st.integers(min_value=1, max_value=8),
    cut=st.integers(min_value=0, max_value=120),
)
@settings(max_examples=200, deadline=None)
def test_mg_fold_invariants(items, k, cut):
    from collections import Counter

    from aetherium_trader_datapipeline_spark.streaming.heavy_hitters import mg_fold

    got = mg_fold({}, items, k)
    n, true = len(items), Counter(items)
    assert len(got) <= k
    for it, c in got.items():
        # never over-counts; under-counts by at most n/(k+1)
        assert c <= true[it]
        assert c >= true[it] - n // (k + 1)
    for it, f in true.items():
        if f > n // (k + 1):  # guaranteed tracked
            assert it in got
    # chunked fold with carried state == one fold (micro-batch boundaries
    # cannot change the summary — the stream==batch property at kernel level)
    cut = min(cut, len(items))
    assert mg_fold(mg_fold({}, items[:cut], k), items[cut:], k) == got


def _winnow_fingerprints_duckdb(texts, con):
    """Run x291's ORACLE SQL (the single source of the semantics — the
    Spark side is hash-checked equal to it by the oracle gate) over ad-hoc
    documents; returns {doc_id: set(fp_hash)}."""
    import pandas as pd

    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    sql = REGISTRY["x291_winnowing_fingerprints"].oracle
    # swap the final pair report for the raw fingerprint sets
    head = sql[: sql.index("nfp AS")]
    q = head + "nfp AS (SELECT 1) SELECT doc_id, fp_hash FROM fp"
    docs = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}
    )
    con.register("documents", docs)
    out = {}
    for d, h in con.execute(q).fetchall():
        out.setdefault(d, set()).add(h)
    con.unregister("documents")
    return out


@given(
    a=st.text(alphabet="abcd ", min_size=0, max_size=60),
    b=st.text(alphabet="abcd ", min_size=0, max_size=60),
    common=st.text(alphabet="abcd ", min_size=8, max_size=20),
)
@settings(max_examples=25, deadline=None)
def test_winnowing_detection_guarantee(a, b, common):
    """The MOSS guarantee: any substring shared by two docs with length
    >= w + k - 1 (= 8 for k=5, w=4) produces at least one shared selected
    fingerprint — winnowing may sparsify, but never below detectability."""
    import duckdb

    d1, d2 = a + common + a, b + common + b
    con = duckdb.connect()
    try:
        fps = _winnow_fingerprints_duckdb([d1, d2], con)
        assert fps.get(0, set()) & fps.get(1, set())
    finally:
        con.close()


def test_bpe_merge_parity_on_overlap_runs():
    """x292's gaps-and-islands merge must implement greedy left-to-right
    BPE: in 'aaaa' with best pair (a,a), merges happen at positions 1 and
    3 ('aa','aa'), never the overlapping position 2."""
    import duckdb
    import pandas as pd

    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    sql = REGISTRY["x292_bpe_merge_rounds"].oracle
    # corpus of one word 'aaaa' -> round-1 pair counts: (a,a) x3
    # after merging: symbols ['aa','aa'] -> round-2 best pair (aa,aa) x1
    con = duckdb.connect()
    try:
        con.register(
            "documents", pd.DataFrame({"doc_id": [1], "text": ["aaaa"]})
        )
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    by_round = {}
    for rnd, rk, s1, s2, cnt in rows:
        by_round.setdefault(rnd, []).append((rk, s1, s2, cnt))
    assert by_round[1][0] == (1, "a", "a", 3)
    assert by_round[2][0] == (1, "aa", "aa", 1)
    # after the second merge ('aaaa' -> one symbol) no pairs remain
    assert 3 not in by_round


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=60,
    ),
)
@settings(**SETTINGS)
def test_grid_rank_is_a_valid_rank_permutation(spark, rows):
    """r12: grid_rank(bucket, order) must be SOME valid ROW_NUMBER under
    (bucket NULLS FIRST, order): a permutation of 1..n whose sorted-by-
    rank sequence is non-decreasing in (bucket, order) — ties permute
    arbitrarily, everything else is pinned.  Random NULL buckets,
    duplicate rows, singleton and giant buckets."""
    from aetherium_trader_datapipeline_spark.operators.layout import grid_rank

    df = spark.createDataFrame(rows, "b int, v int")
    got = [(r.b, r.v, r.rk) for r in grid_rank(df, "b", ["v"], "rk").collect()]
    n = len(rows)
    assert sorted(r for _, _, r in got) == list(range(1, n + 1))
    by_rank = sorted(got, key=lambda t: t[2])
    keys = [((t[0] is not None, t[0] if t[0] is not None else 0), t[1]) for t in by_rank]
    assert keys == sorted(keys), f"rank order violates (bucket, v): {by_rank}"
    # multiset of rows preserved
    assert sorted(
        ((t[0] is not None, t[0] or 0), t[1]) for t in got
    ) == sorted(((b is not None, b or 0), v) for b, v in rows)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=50,
    ),
    k=st.integers(min_value=1, max_value=60),
)
@settings(**SETTINGS)
def test_ntile_bucket_matches_spark_ntile(spark, rows, k):
    """r12: ntile_bucket == NTILE(k) OVER (ORDER BY b, v) as a multiset
    of (b, v, tile) — tie rows may swap tiles across a boundary, which
    the multiset comparison is invariant to while still pinning every
    tile size.  Random NULLs, duplicates, k larger than n."""
    from aetherium_trader_datapipeline_spark.operators.layout import ntile_bucket

    df = spark.createDataFrame(rows, "b int, v int")
    nkey = lambda t: (t[0] is not None, t[0] or 0, t[1], t[2])  # noqa: E731
    got = sorted(
        ((r.b, r.v, r.t) for r in
         ntile_bucket(df, "b", ["v"], len(rows), k, "t").collect()),
        key=nkey,
    )
    exp = sorted(
        ((r.b, r.v, r.t) for r in
         df.selectExpr("b", "v", f"NTILE({k}) OVER (ORDER BY b, v) AS t").collect()),
        key=nkey,
    )
    assert got == exp


@given(
    ids_a=st.lists(st.integers(min_value=0, max_value=120), max_size=60),
    ids_b=st.lists(st.integers(min_value=0, max_value=120), max_size=60),
    k=st.sampled_from([1, 2, 3, 8]),
)
@settings(**SETTINGS)
def test_theta_algebra_matches_python_reference(spark, ids_a, ids_b, k):
    """Randomized KMV algebra: construction, union, intersection,
    difference, and the many-way merge all equal the pure-Python
    reference on the same xxhash64 values — tiny adversarial k, dups,
    empty and disjoint sides included."""
    import pyspark.sql.functions as F

    from aetherium_trader_datapipeline_spark.operators.sketches import (
        theta_a_not_b,
        theta_intersect,
        theta_merge,
        theta_sketch,
        theta_union,
    )
    from tests.test_theta_sketch import (
        _py_a_not_b,
        _py_intersect,
        _py_sketch,
        _py_union,
        _rows,
    )

    dom = sorted(set(ids_a) | set(ids_b))
    hmap = (
        {
            r.v: r.h
            for r in spark.createDataFrame([(i,) for i in dom], "v long")
            .select("v", F.xxhash64("v").alias("h"))
            .collect()
        }
        if dom
        else {}
    )
    pa = _py_sketch([hmap[i] for i in ids_a], k)
    pb = _py_sketch([hmap[i] for i in ids_b], k)

    def mk(ids):
        df = spark.createDataFrame([(i,) for i in ids] or [(None,)], "v long")
        return theta_sketch(df.where("v IS NOT NULL"), [], "v", k=k)

    sa, sb = mk(ids_a), mk(ids_b)
    # empty input -> empty sketch table; the reference gives ([], None)
    got_a = _rows(sa).get(None, ((), None))
    got_b = _rows(sb).get(None, ((), None))
    assert got_a == (tuple(pa[0]), pa[1])
    assert got_b == (tuple(pb[0]), pb[1])
    for op, ref in [
        (theta_union, _py_union(pa, pb, k)),
        (theta_intersect, _py_intersect(pa, pb)),
        (theta_a_not_b, _py_a_not_b(pa, pb)),
    ]:
        got = _rows(op(sa, sb, [])).get(None, ((), None))
        assert got == (tuple(ref[0]), ref[1]), op.__name__
    # many-way merge of the two sketch tables == pairwise union
    got_m = _rows(theta_merge(sa.unionByName(sb), [])).get(None, ((), None))
    ref_u = _py_union(pa, pb, k)
    assert got_m == (tuple(ref_u[0]), ref_u[1])


@given(
    milli_a=st.lists(
        st.integers(min_value=-1_000_000, max_value=1_000_000), max_size=50
    ),
    milli_b=st.lists(
        st.integers(min_value=-1_000_000, max_value=1_000_000), max_size=50
    ),
    alpha=st.sampled_from([0.01, 0.05, 0.2]),
)
@settings(**SETTINGS)
def test_dd_sketch_properties(spark, milli_a, milli_b, alpha):
    """Randomized DDSketch: merge of split sketches is row-identical to
    the direct sketch, and every quantile estimate of the merged grid is
    within alpha relative error of the exact quantile (zeros exact)."""
    import math

    from aetherium_trader_datapipeline_spark.operators.sketches import (
        dd_merge,
        dd_quantiles,
        dd_sketch,
    )

    vals_a = [m / 1000.0 for m in milli_a]
    vals_b = [m / 1000.0 for m in milli_b]
    both = vals_a + vals_b
    if not both:
        return

    def mk(vals):
        df = spark.createDataFrame([(v,) for v in vals] or [(None,)], "v double")
        return dd_sketch(df.where("v IS NOT NULL"), [], "v", alpha=alpha)

    direct = mk(both)
    merged = dd_merge(mk(vals_a), mk(vals_b))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    qs = [0.0, 0.5, 1.0]
    got = {r.q: r.estimate for r in dd_quantiles(direct, [], qs).collect()}
    s = sorted(both)
    for q in qs:
        true = s[max(1, math.ceil(q * len(s))) - 1]
        if true == 0:
            assert got[q] == 0.0
        else:
            assert abs(got[q] - true) / abs(true) <= alpha * 1.01, (q, got[q], true)
