"""Property-based (hypothesis) scenarios for the stateful stream-assembly
logic — the one place the reference's own tests are scenario-based
(missed-block catch-up, BlockDataFlowTest.kt:145-187; merge dedup,
MultiplexFlow.kt:117-155).  Randomized height-gap/overlap scenarios check:

- J2 gap-fill: any received subset of [lo, hi] → exactly the full contiguous
  range, each height once
- J3/F5 merge dedup: any historical/live overlap → one row per height,
  history preferred, height-ordered
- O4 count windows: every window has ≤ size rows and contiguous membership
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# One shared SparkSession via the pytest fixture; hypothesis drives many
# examples through it, so examples are kept small (≤ 60 heights).
LO, HI = 1, 60

heights_subset = st.sets(st.integers(min_value=LO, max_value=HI), max_size=HI)

prop_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(received=heights_subset)
@prop_settings
def test_gap_fill_restores_contiguity(spark, received):
    from event_stream_spark.operators.merge import gap_fill, missing_heights

    rec_df = spark.createDataFrame(
        [(h, "rpc") for h in sorted(received)], "height long, src string"
    )
    missing = {
        r["height"] for r in missing_heights(spark, rec_df, LO, HI).collect()
    }
    assert missing == set(range(LO, HI + 1)) - received

    def fetch(gaps):
        return gaps.selectExpr("height", "'fallback' AS src")

    out = gap_fill(spark, rec_df, LO, HI, fetch).collect()
    assert [r["height"] for r in out] == list(range(LO, HI + 1))
    by_src = {r["height"]: r["src"] for r in out}
    for h in range(LO, HI + 1):
        assert by_src[h] == ("rpc" if h in received else "fallback")


@given(
    hist_hi=st.integers(min_value=LO, max_value=HI),
    live_lo=st.integers(min_value=LO, max_value=HI),
)
@prop_settings
def test_merge_dedup_history_wins(spark, hist_hi, live_lo):
    """Any overlap/gap between history [LO, hist_hi] and live [live_lo, HI]:
    merged stream has one row per height, history's row where both exist."""
    from event_stream_spark.operators.merge import combine_historical_live

    hist = spark.createDataFrame(
        [(h, True) for h in range(LO, hist_hi + 1)], "height long, historical boolean"
    )
    live = spark.createDataFrame(
        [(h, False) for h in range(live_lo, HI + 1)], "height long, historical boolean"
    )
    out = combine_historical_live(hist, live).collect()
    expect = sorted(set(range(LO, hist_hi + 1)) | set(range(live_lo, HI + 1)))
    assert [r["height"] for r in out] == expect
    for r in out:
        assert r["historical"] == (r["height"] <= hist_hi)


@given(
    present=st.sets(st.integers(min_value=0, max_value=40), min_size=1),
    size=st.integers(min_value=1, max_value=7),
)
@prop_settings
def test_count_windows_bounded(spark, present, size):
    from event_stream_spark.operators.ordering import count_windows

    df = spark.createDataFrame([(h,) for h in sorted(present)], "height long")
    rows = count_windows(df, size).collect()
    for r in rows:
        assert r["window_id"] == r["height"] // size


@given(
    lo=st.integers(min_value=0, max_value=10**7),
    span=st.integers(min_value=1, max_value=5000),
    parallelism=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_blockstream_plan_one_range_per_core(lo, span, parallelism):
    """The source planner covers [lo, hi] with contiguous ranges, each
    height once, in at most ``parallelism`` ranges of at least
    ``MIN_HEIGHTS_PER_PARTITION`` heights unless the span is smaller."""
    from event_stream_spark.sources.blockstream import MIN_HEIGHTS_PER_PARTITION, _plan

    hi = lo + span - 1
    ranges = [(r.lo, r.hi) for r in _plan(lo, hi, parallelism)]
    assert 1 <= len(ranges) <= parallelism
    assert ranges[0][0] == lo and ranges[-1][1] == hi
    for (_, prev_hi), (next_lo, _) in zip(ranges, ranges[1:]):
        assert next_lo == prev_hi + 1
    widths = [b - a + 1 for a, b in ranges]
    assert sum(widths) == span
    assert min(widths) >= min(span, MIN_HEIGHTS_PER_PARTITION)
    assert max(widths) - min(widths) <= 1


@given(
    n_hot=st.integers(min_value=0, max_value=30),
    salt_n=st.integers(min_value=1, max_value=8),
)
@prop_settings
def test_salted_join_row_identical(spark, n_hot, salt_n):
    """salted_join returns exactly the rows of the plain join, for any skew
    profile and salt width (inner + left)."""
    from event_stream_spark.operators.skew import salted_join

    left_rows = [(1, f"hot{i}") for i in range(n_hot)] + [
        (k, f"cold{k}") for k in range(2, 6)
    ]
    right_rows = [(1, "dim1"), (2, "dim2"), (99, "unmatched")]
    left = spark.createDataFrame(left_rows, "k long, payload string")
    right = spark.createDataFrame(right_rows, "k long, dim string")

    for how in ("inner", "left"):
        plain = sorted(
            tuple(r) for r in left.join(right, "k", how).collect()
        )
        salted = sorted(
            tuple(r) for r in salted_join(left, right, "k", n=salt_n, how=how).collect()
        )
        assert salted == plain


def test_salt_spreads_identical_duplicates(spark):
    """64 byte-identical copies of one hot row must land in >1 salt bucket —
    a columns-only hash pins them all to one, re-creating the skew."""
    from event_stream_spark.operators.skew import with_salt

    df = spark.createDataFrame([(1, "dup")] * 64, "k long, v string")
    salts = {
        r["_salt"]
        for r in with_salt(df.repartition(8), 8, spread_duplicates=True).collect()
    }
    assert len(salts) > 1
    assert all(0 <= s < 8 for s in salts)


intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),  # start
        st.integers(min_value=0, max_value=80),  # span
        st.integers(min_value=0, max_value=2),  # key
    ),
    min_size=0,
    max_size=20,
)


@given(ls=intervals, rs=intervals)
@prop_settings
def test_interval_overlap_join_matches_bruteforce(spark, ls, rs):
    """Any two interval sets: the bin-blocked join emits exactly the
    brute-force overlap pairs (per key), each exactly once — including
    intervals spanning many bins and touching at endpoints."""
    from event_stream_spark.operators.rangejoin import interval_overlap_join

    left = spark.createDataFrame(
        [(i, s, s + sp, k) for i, (s, sp, k) in enumerate(ls)],
        "l_id long, l_s long, l_e long, key long",
    )
    right = spark.createDataFrame(
        [(i, s, s + sp, k) for i, (s, sp, k) in enumerate(rs)],
        "r_id long, r_s long, r_e long, key long",
    )
    got = sorted(
        (r.l_id, r.r_id)
        for r in interval_overlap_join(
            left,
            right,
            left_start="l_s",
            left_end="l_e",
            right_start="r_s",
            right_end="r_e",
            bin_width_us=64,
            on=["key"],
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (s1, sp1, k1) in enumerate(ls)
        for j, (s2, sp2, k2) in enumerate(rs)
        if k1 == k2 and s1 <= s2 + sp2 and s2 <= s1 + sp1
    )
    assert got == want


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_match_exhaustive_small_domain(spark):
    """Completeness proof over an EXHAUSTIVE domain: every string of length
    0..3 over {a, b} as both master and probe, k in {1, 2}, under BOTH
    blocking schemes — deletion neighborhoods (the default for k ≤ 2) and
    PassJoin segments + the short-string path — each must reproduce the
    brute-force levenshtein pair set exactly (the ADVICE-r3 short-string
    omission class cannot hide in an exhaustive sweep)."""
    from itertools import product

    from event_stream_spark.operators.fuzzy import fuzzy_match

    strings = [""] + [
        "".join(p) for n in (1, 2, 3) for p in product("ab", repeat=n)
    ]
    rows = list(enumerate(strings))
    df = spark.createDataFrame(rows, "id long, s string")
    for k in (1, 2):
        want = sorted(
            (pi, mi, _lev(ps, ms))
            for pi, ps in rows
            for mi, ms in rows
            if pi != mi and _lev(ps, ms) <= k
        )
        for blocking in ("deletion", "passjoin"):
            got = sorted(
                (r.p_key, r.m_key, r.dist)
                for r in fuzzy_match(
                    df, df, text="s", key="id", k=k, blocking=blocking
                ).collect()
            )
            assert got == want, f"k={k} blocking={blocking}"


# --- retrieval / graph family vs independent pure-python references ------
#
# The DuckDB oracles MIRROR the operators' formulas, so a shared formula
# error would pass hash-parity.  These references are written independently
# (dict-and-loop python), closing that blind spot on randomized corpora.

_WORDS = ["aa", "bb", "cc", "dd", "ee"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8),
    min_size=2,
    max_size=6,
)


def _py_bm25(docs: dict[int, list[str]], qterms: list[str], k1=1.2, b=0.75):
    import math

    n = len(docs)
    dl = {d: len(ws) for d, ws in docs.items()}
    avgdl = sum(dl.values()) / n
    df = {}
    for ws in docs.values():
        for t in set(ws):
            df[t] = df.get(t, 0) + 1
    out = {}
    for d, ws in docs.items():
        s = 0.0
        for t in sorted(set(qterms)):
            tf = ws.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[d] / avgdl)), 6)
        if s:
            out[d] = round(s, 6)
    return out


@given(corpus=docs_strategy)
@prop_settings
def test_bm25_matches_python_reference(spark, corpus, tmp_path_factory):
    from event_stream_spark.datapipe.retrieval import bm25_topk

    base = tmp_path_factory.mktemp("bm25prop")
    docs = {i: ws for i, ws in enumerate(corpus)}
    spark.createDataFrame(
        [(i, " ".join(ws), "en", "s", 1) for i, ws in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{base}/documents.parquet")
    qs = [(0, "aa bb")]
    got = {
        r.doc_id: r.score
        for r in bm25_topk(spark, str(base), queries=qs, k=100).collect()
    }
    assert got == _py_bm25(docs, ["aa", "bb"])


def _py_pagerank(edges: set[tuple[int, int]], iters=5, d_num=17, d_den=20):
    """Fixed-point reference mirroring the operator's integer contract:
    rank in 1e-12 BIGINT units, integer-division contributions, exact
    integer sums, damping as the exact rational d_num/d_den."""
    FP = 10**12
    sym = edges | {(b, a) for a, b in edges}
    nodes = sorted({u for u, _ in sym})
    deg = {u: sum(1 for x, _ in sym if x == u) for u in nodes}
    n = len(nodes)
    pr = {u: FP // n for u in nodes}
    for _ in range(iters):
        nxt = {}
        for v in nodes:
            acc = sum(pr[u] // deg[u] for (u, w) in sym if w == v)
            nxt[v] = ((d_den - d_num) * FP) // (d_den * n) + (d_num * acc) // d_den
        pr = nxt
    return {u: ((fp + 500_000) // 1_000_000) / 1e6 for u, fp in pr.items()}


@given(
    pairs=st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda p: p[0] < p[1]),
        min_size=1,
        max_size=10,
    )
)
@prop_settings
def test_pagerank_matches_python_reference(spark, pairs):
    """graph_pagerank's iteration core (the SAME code, via
    pagerank_iterations) vs a dict-and-loop power iteration on the same
    edge set — only the minhash candidate front-end is bypassed."""
    from pyspark.sql import functions as F

    from event_stream_spark.datapipe.graph import pagerank_iterations

    ref = _py_pagerank(pairs)

    pdf = spark.createDataFrame(sorted(pairs), "a long, b long")
    edges = pdf.union(pdf.select(F.col("b").alias("a"), F.col("a").alias("b"))).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    pr, _deg = pagerank_iterations(edges)
    got = {r.doc_id: r.pr for r in pr.collect()}
    assert set(got) == set(ref)
    # fixed-point integer arithmetic: EXACT equality, no tolerance
    for v in ref:
        assert got[v] == ref[v], (v, got[v], ref[v])


@given(corpus=docs_strategy)
@prop_settings
def test_containment_complete_vs_bruteforce(spark, corpus, tmp_path_factory):
    """Prefix-filtered containment finds EVERY pair the quadratic definition
    admits, on randomized corpora (shingle n=1 so tiny docs participate)."""
    from event_stream_spark.datapipe.dedup import containment_pairs

    base = tmp_path_factory.mktemp("contprop")
    docs = {i: ws for i, ws in enumerate(corpus)}
    spark.createDataFrame(
        [(i, " ".join(ws), "en", "s", 1) for i, ws in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{base}/documents.parquet")
    t = 0.6
    got = {
        (r.a, r.b) for r in containment_pairs(spark, str(base), threshold=t, n=1).collect()
    }
    want = set()
    for a, wa in docs.items():
        for b, wb in docs.items():
            if a == b:
                continue
            sa, sb = set(wa), set(wb)
            if round(len(sa & sb) / len(sa), 6) >= t:
                want.add((a, b))
    assert got == want


_LCS_SEGS = [
    "the quick brown fox jumps over one lazy dog",
    "pack my box with five dozen liquor jugs now",
    "sphinx of black quartz judge my vow tonight",
]

# docs are sequences of pieces: small ints pick a SHARED segment (so ≥20-char
# overlaps occur), larger ints deterministic per-doc filler
lcs_corpus = st.lists(
    st.lists(st.integers(min_value=0, max_value=8), min_size=1, max_size=3),
    min_size=2,
    max_size=5,
)


def _piece(v: int, doc: int) -> str:
    if v < len(_LCS_SEGS):
        return _LCS_SEGS[v]
    return f"filler{v}doc{doc}token{v * 7} unique{doc}x{v}"


def _py_lcs_len(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    best = 0
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        ca = a[i - 1]
        for j in range(1, len(b) + 1):
            if ca == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


@given(corpus=lcs_corpus)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lcs_pairs_matches_dp_on_random_corpora(spark, corpus, tmp_path_factory):
    """The diagonal run-length LCS equals the quadratic DP on randomized
    corpora built from shared segments + per-doc filler (the rare-gram cap
    never binds at ≤5 docs, so candidates are exactly the pairs whose true
    LCS reaches the gram width)."""
    from event_stream_spark.datapipe.corpusops import CHAR_SPAN_N, lcs_pairs

    base = tmp_path_factory.mktemp("lcsprop")
    texts = {
        i: " ".join(_piece(v, i) for v in pieces)
        for i, pieces in enumerate(corpus)
    }
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{base}/documents.parquet")
    got = {(r.a, r.b): r.lcs_len for r in lcs_pairs(spark, str(base)).collect()}
    want = {}
    ids = sorted(texts)
    for x in ids:
        for y in ids:
            if x < y:
                n = _py_lcs_len(texts[x], texts[y])
                if n >= CHAR_SPAN_N:
                    want[(x, y)] = n
    assert got == want


suffix_corpus = st.lists(
    st.text(alphabet="abc ", min_size=1, max_size=40).map(str.strip).filter(bool),
    min_size=2,
    max_size=5,
)


@given(texts=suffix_corpus)
@prop_settings
def test_suffix_lrs_matches_bruteforce(spark, texts, tmp_path_factory):
    """suffix_lrs equals the quadratic character-compare brute force on
    randomized small-alphabet corpora (a 4-char alphabet forces heavy rank
    ties, the regime where the SA construction and the binary LCP chain
    can break)."""
    from event_stream_spark.datapipe.suffix import (
        SUFFIX_CAP,
        SUFFIX_DUP_MIN,
        suffix_lrs,
    )

    base = tmp_path_factory.mktemp("sfxprop")
    sf = str(base)
    spark.createDataFrame(
        [(i, s, "en", "s", len(s)) for i, s in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    caps = {i: s[:SUFFIX_CAP] for i, s in enumerate(texts)}
    sufs = [
        (d, p, s[p - 1 :]) for d, s in caps.items() for p in range(1, len(s) + 1)
    ]
    best: dict[tuple[int, int], int] = {}
    for i, (d, p, s) in enumerate(sufs):
        m = 0
        for j, (d2, p2, s2) in enumerate(sufs):
            if i == j:
                continue
            k = 0
            for x, y in zip(s, s2):
                if x != y:
                    break
                k += 1
            m = max(m, k)
        best[(d, p)] = m
    want = {}
    for (d, _p), m in best.items():
        lrs, cnt = want.get(d, (0, 0))
        want[d] = (max(lrs, m), cnt + (1 if m >= SUFFIX_DUP_MIN else 0))

    got = {
        r.doc_id: (r.lrs_len, r.n_dup_suffixes)
        for r in suffix_lrs(spark, sf).collect()
    }
    assert got == want


@given(
    data=st.binary(min_size=0, max_size=300_000),
)
@settings(max_examples=30, deadline=None)
def test_zstd_store_frame_roundtrip_property(data):
    """Any byte string survives store-frame encode → spec decode."""
    from event_stream_spark.sources.zstdcodec import (
        zstd_decompress,
        zstd_store_frame,
    )

    assert zstd_decompress(zstd_store_frame(data)) == data


@given(
    bodies=st.lists(st.binary(min_size=0, max_size=2000), min_size=1, max_size=20),
)
@settings(max_examples=20, deadline=None)
def test_warc_roundtrip_property(tmp_path_factory, bodies):
    """Arbitrary binary bodies survive WARC write → parse, order and
    bytes intact (CRLF sequences inside bodies must not confuse the
    record framing — Content-Length governs)."""
    import os
    import zlib

    from event_stream_spark.sources.dumps import _parse_warc, write_warc_gz

    d = tmp_path_factory.mktemp("warc")
    p = os.path.join(str(d), "a.warc.gz")
    write_warc_gz(
        [{"url": f"http://x/{i}", "body": b} for i, b in enumerate(bodies)],
        p,
    )
    raw = open(p, "rb").read()
    parts = []
    while raw:
        dec = zlib.decompressobj(wbits=31)
        parts.append(dec.decompress(raw))
        raw = dec.unused_data
    recs = _parse_warc(b"".join(parts))
    assert [r["body"] for r in recs] == bodies
