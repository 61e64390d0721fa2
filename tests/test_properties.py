"""Property-based tests (hypothesis) for the operators whose semantics have
sharp edges: as-of joins (ties, missing keys), positional flag roundtrips,
interval clipping, and LTTB invariants. The reference ships no property
tests (SURVEY §5); these are our guard rails against silent semantic drift.

One shared SparkSession; hypothesis generates the data, Spark runs the
operator, plain python/pandas computes the expected answer.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(max_examples=15, deadline=None)

_TS0 = dt.datetime(2024, 1, 1)


def _ts(offset_s: int) -> dt.datetime:
    return _TS0 + dt.timedelta(seconds=int(offset_s))


# --- as-of join vs pandas merge_asof ----------------------------------------

as_of_data = st.tuples(
    st.lists(  # left: (key, ts_offset)
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=30
    ),
    st.lists(  # right: (key, ts_offset, value)
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(-100, 100)),
        min_size=1,
        max_size=30,
    ),
)


@given(as_of_data)
@settings(**SETTINGS)
def test_as_of_join_matches_merge_asof(data):
    from rca_data_tools_spark.operators.interval_join import as_of_join
    from tests.conftest import get_shared_spark

    spark = get_shared_spark()
    left_rows, right_rows = data
    # merge_asof requires unique-ish ordering; dedupe right on (key, ts) to
    # make "latest at same ts" well-defined on both sides
    right_rows = list({(k, t): (k, t, v) for k, t, v in right_rows}.values())

    left = spark.createDataFrame(
        [(k, _ts(t)) for k, t in left_rows], "key int, lts timestamp"
    )
    right = spark.createDataFrame(
        [(k, _ts(t), v) for k, t, v in right_rows], "key int, rts timestamp, val int"
    )
    got = {
        (r.key, r.lts, r.val)
        for r in as_of_join(left, right, "key", "lts", "rts", ["val"]).collect()
    }

    lp = pd.DataFrame([(k, _ts(t)) for k, t in left_rows], columns=["key", "lts"]).sort_values(
        "lts", kind="stable"
    )
    rp = pd.DataFrame(
        [(k, _ts(t), v) for k, t, v in right_rows], columns=["key", "rts", "val"]
    ).sort_values("rts", kind="stable")
    expect_df = pd.merge_asof(lp, rp, left_on="lts", right_on="rts", by="key")
    expect = {
        (r.key, r.lts.to_pydatetime(), None if pd.isna(r.val) else int(r.val))
        for r in expect_df.itertuples()
    }
    assert got == expect


# --- positional flag encode/decode roundtrip --------------------------------

@given(st.lists(st.lists(st.sampled_from([1, 3, 4, 9]), min_size=1, max_size=6), min_size=1, max_size=20)
       .filter(lambda rows: len({len(r) for r in rows}) == 1))
@settings(**SETTINGS)
def test_positional_flags_roundtrip(rows):
    from rca_data_tools_spark.functions.qc import decode_positional_flags, encode_positional_flags
    from tests.conftest import get_shared_spark

    spark = get_shared_spark()
    n = len(rows[0])
    df = spark.createDataFrame([(r,) for r in rows], "flags array<int>")
    encoded = df.select(
        encode_positional_flags([F.col("flags")[i] for i in range(n)]).alias("s"), "flags"
    )
    decoded = encoded.select(
        "flags", *[c.alias(f"d{i}") for i, (_, c) in enumerate(decode_positional_flags("s", n))]
    )
    for r in decoded.collect():
        assert [r[f"d{i}"] for i in range(n)] == list(r.flags)


# --- interval clipping -------------------------------------------------------

@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)).map(lambda p: (min(p), max(p))),
        min_size=1,
        max_size=25,
    ),
    st.tuples(st.integers(100, 300), st.integers(300, 450)),
)
@settings(**SETTINGS)
def test_clip_intervals_properties(intervals, window):
    from rca_data_tools_spark.operators.interval_join import clip_intervals
    from tests.conftest import get_shared_spark

    spark = get_shared_spark()
    w_lo, w_hi = _ts(window[0]), _ts(window[1])
    df = spark.createDataFrame(
        [(i, _ts(lo), _ts(hi)) for i, (lo, hi) in enumerate(intervals)],
        "id int, lo timestamp, hi timestamp",
    )
    out = clip_intervals(df, "lo", "hi", w_lo.isoformat(sep=" "), w_hi.isoformat(sep=" ")).collect()
    surviving = {r.id for r in out}
    for r in out:
        assert w_lo <= r.lo < r.hi <= w_hi  # clipped inside window, non-empty
    for i, (lo, hi) in enumerate(intervals):
        overlaps = _ts(lo) < w_hi and _ts(hi) > w_lo and lo != hi
        # an interval survives iff it genuinely overlaps the window
        assert (i in surviving) == (
            overlaps and max(_ts(lo), w_lo) < min(_ts(hi), w_hi)
        )


# --- LTTB invariants ---------------------------------------------------------

@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=3, max_size=400),
    st.integers(3, 60),
)
@settings(**SETTINGS)
def test_lttb_invariants(values, threshold):
    from rca_data_tools_spark.operators.decimate import _lttb_indices

    x = np.arange(len(values), dtype=np.float64)
    y = np.asarray(values, dtype=np.float64)
    idx = _lttb_indices(x, y, threshold)
    assert len(idx) == min(len(values), threshold)
    assert idx[0] == 0 and idx[-1] == len(values) - 1
    assert (np.diff(idx) > 0).all()  # strictly increasing: order preserved


@given(as_of_data)
@settings(**SETTINGS)
def test_as_of_forward_matches_merge_asof(data):
    from rca_data_tools_spark.operators.interval_join import as_of_join
    from tests.conftest import get_shared_spark

    spark = get_shared_spark()
    left_rows, right_rows = data
    right_rows = list({(k, t): (k, t, v) for k, t, v in right_rows}.values())
    left = spark.createDataFrame([(k, _ts(t)) for k, t in left_rows], "key int, lts timestamp")
    right = spark.createDataFrame(
        [(k, _ts(t), v) for k, t, v in right_rows], "key int, rts timestamp, val int"
    )
    got = {
        (r.key, r.lts, r.val)
        for r in as_of_join(left, right, "key", "lts", "rts", ["val"], direction="forward").collect()
    }
    lp = pd.DataFrame([(k, _ts(t)) for k, t in left_rows], columns=["key", "lts"]).sort_values(
        "lts", kind="stable"
    )
    rp = pd.DataFrame(
        [(k, _ts(t), v) for k, t, v in right_rows], columns=["key", "rts", "val"]
    ).sort_values("rts", kind="stable")
    expect_df = pd.merge_asof(lp, rp, left_on="lts", right_on="rts", by="key", direction="forward")
    expect = {
        (r.key, r.lts.to_pydatetime(), None if pd.isna(r.val) else int(r.val))
        for r in expect_df.itertuples()
    }
    assert got == expect


@given(as_of_data)
@settings(**SETTINGS)
def test_as_of_nearest_prefers_backward_on_ties(data):
    """Nearest direction vs a per-row Python reference (pandas 'nearest'
    tie-breaks toward forward in some versions, so compare against our
    documented semantics directly: closer wins, exact ties go backward)."""
    from rca_data_tools_spark.operators.interval_join import as_of_join
    from tests.conftest import get_shared_spark

    spark = get_shared_spark()
    left_rows, right_rows = data
    right_rows = list({(k, t): (k, t, v) for k, t, v in right_rows}.values())
    left = spark.createDataFrame([(k, _ts(t)) for k, t in left_rows], "key int, lts timestamp")
    right = spark.createDataFrame(
        [(k, _ts(t), v) for k, t, v in right_rows], "key int, rts timestamp, val int"
    )
    got = {
        (r.key, r.lts, r.val)
        for r in as_of_join(left, right, "key", "lts", "rts", ["val"], direction="nearest").collect()
    }
    expect = set()
    for k, t in left_rows:
        prev = max((rt for rk, rt, _ in right_rows if rk == k and rt <= t), default=None)
        nxt = min((rt for rk, rt, _ in right_rows if rk == k and rt >= t), default=None)
        if prev is None and nxt is None:
            pick = None
        elif prev is None:
            pick = nxt
        elif nxt is None:
            pick = prev
        else:
            pick = nxt if (nxt - t) < (t - prev) else prev
        val = next((v for rk, rt, v in right_rows if rk == k and rt == pick), None)
        expect.add((k, _ts(t), val))
    assert got == expect


def test_results_invariant_to_shuffle_partitioning():
    """The determinism contract behind the oracle gate: aggregation results
    are bit-identical regardless of partition count (decimal sums are
    order-insensitive; ranked outputs tie-break on ids). Run representative
    queries under 3 and 32 shuffle partitions and compare exact values."""
    from __spark_entry__ import queries
    from tests.conftest import SF_CORRECTNESS, get_shared_spark
    from tests.parity import canonicalize

    spark = get_shared_spark()
    qs = queries()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    names = ["q1_pricing_summary", "a3_windowed_mean", "dedup_minhash_lsh", "ann_ivf_topk"]
    try:
        results = {}
        for parts in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in names:
                df = qs[name](spark, SF_CORRECTNESS)
                results[(name, parts)] = canonicalize(df.columns, [tuple(r) for r in df.collect()])
        for name in names:
            assert results[(name, "3")] == results[(name, "32")], name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# --- blosc/lz4 codec roundtrips ---------------------------------------------
# No Spark needed: the codec is plain bytes->bytes; hypothesis drives the LZ4
# block decoder against pyarrow's liblz4 encoder and the full blosc chunk
# layout (shuffle x codec x blocksize x typesize) through random and
# structured data.

blosc_payload = st.one_of(
    st.binary(min_size=0, max_size=4096),
    # compressible: repeated short patterns (exercises real LZ4 matches)
    st.tuples(st.binary(min_size=1, max_size=16), st.integers(1, 400)).map(
        lambda t: t[0] * t[1]
    ),
)


@given(data=blosc_payload)
@settings(**SETTINGS)
def test_lz4_block_roundtrip_property(data):
    from rca_data_tools_spark.sources.blosc import lz4_block_decompress
    from tests.test_blosc import lz4_block_compress

    assert lz4_block_decompress(lz4_block_compress(data), len(data)) == data


@given(
    n_elems=st.integers(1, 600),
    typesize=st.sampled_from([1, 2, 4, 8]),
    shuffle=st.sampled_from([False, True, "bit"]),
    codec=st.sampled_from([1, 2, 3, 4]),  # lz4, snappy, zlib, zstd
    blocks=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_blosc_chunk_roundtrip_property(n_elems, typesize, shuffle, codec, blocks, seed):
    from rca_data_tools_spark.sources.blosc import blosc_decompress
    from tests.test_blosc import blosc_chunk

    rng = np.random.RandomState(seed)
    # half structured (compressible), half random bytes
    if seed % 2:
        data = (np.arange(n_elems) % 7).astype(f"<u{typesize}" if typesize < 8 else "<f8").tobytes()
    else:
        data = rng.bytes(n_elems * typesize)
    blocksize = max(typesize, (len(data) // blocks) // typesize * typesize) or typesize
    chunk = blosc_chunk(data, typesize=typesize, codec=codec, shuffle=shuffle, blocksize=blocksize)
    assert blosc_decompress(chunk) == data


@given(
    n_bytes=st.integers(0, 2000),
    typesize=st.sampled_from([1, 2, 3, 4, 8, 12]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_bitshuffle_roundtrip_property(n_bytes, typesize, seed):
    """Forward/inverse bit-shuffle invert each other on arbitrary buffers,
    including non-multiple-of-8 element counts and trailing sub-element
    bytes (the c-blosc verbatim-remainder rule)."""
    from rca_data_tools_spark.sources.blosc import _bit_shuffle, _bit_unshuffle

    rng = np.random.RandomState(seed)
    buf = rng.bytes(n_bytes)
    shuffled = _bit_shuffle(buf, typesize)
    assert len(shuffled) == len(buf)
    assert _bit_unshuffle(shuffled, typesize) == buf
    # bit-count conservation: a pure transpose permutes bits in the core
    core = (len(buf) // typesize - (len(buf) // typesize) % 8) * typesize
    if core:
        assert (
            bin(int.from_bytes(shuffled[:core], "big")).count("1")
            == bin(int.from_bytes(buf[:core], "big")).count("1")
        )


# --- interval union/gap sweep vs brute force --------------------------------

interval_data = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(1, 60)),
    min_size=1,
    max_size=40,
)


@given(interval_data)
@settings(**SETTINGS)
def test_interval_gap_sweep_matches_bruteforce(spark, rows):
    """The sweep-line gap computation (j11 shape: running max of ends, gap
    when the next start clears it) must equal gaps of the brute-force
    interval union per key."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(k, s, s + d, i) for i, (k, s, d) in enumerate(rows)],
        "k long, lo long, hi long, rid long",
    )
    w = (
        Window.partitionBy("k").orderBy("lo", "rid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = df.withColumn("pmax", F.max("hi").over(w))
    is_gap = F.col("pmax").isNotNull() & (F.col("lo") > F.col("pmax"))
    got = {
        r["k"]: r["gap"]
        for r in swept.groupBy("k")
        .agg(F.sum(F.when(is_gap, F.col("lo") - F.col("pmax")).otherwise(F.lit(0))).alias("gap"))
        .collect()
    }
    # brute force: union the intervals per key, gaps = span - covered
    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, s, d in rows:
        by_key.setdefault(k, []).append((s, s + d))
    for k, ivs in by_key.items():
        ivs.sort()
        covered, end = 0, None
        lo0, hi_max = ivs[0][0], max(h for _, h in ivs)
        for s, h in ivs:
            if end is None or s > end:
                covered += h - s
                end = h
            elif h > end:
                covered += h - end
                end = h
        assert got[k] == (hi_max - lo0) - covered, (k, ivs)


# --- pack_greedy composite ordering -----------------------------------------

pack_data = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 5), st.integers(0, 2000), st.integers(1, 80)),
    min_size=1,
    max_size=50,
    unique_by=lambda t: (t[0], t[1], t[2]),
)


@given(pack_data)
@settings(**SETTINGS)
def test_pack_greedy_composite_order_matches_sequential(spark, rows):
    """pack_greedy over a composite (doc, chunk) order key must reproduce a
    plain sequential packer per shard — including when single-column
    arithmetic encodings would collide."""
    from rca_data_tools_spark.operators.sampling import pack_greedy

    target = 100
    df = spark.createDataFrame(rows, "shard long, doc long, chunk long, n int")
    got = {
        (r["shard"], r["doc"], r["chunk"]): r["bin_id"]
        for r in pack_greedy(df, "shard", ["doc", "chunk"], "n", target).collect()
    }
    by_shard: dict[int, list] = {}
    for s, d, c, n in rows:
        by_shard.setdefault(s, []).append((d, c, n))
    for s, items in by_shard.items():
        items.sort()
        cum = 0
        for d, c, n in items:
            assert got[(s, d, c)] == cum // target, (s, d, c)
            cum += n


# --- zarr v2 filter-chain property: forward-encode per numcodecs' published
# semantics, decode through the scan's chain decoder, recover the input ------

def _chain_is_realizable(chain: list) -> bool:
    """Reject chains where ``fixedscaleoffset`` follows a ``shuffle``:
    shuffle byte-transposes the int64 items, so downstream values reach
    ~2^63, and numcodecs' own FixedScaleOffset.decode (``enc/scale +
    offset``) runs through float64 — lossy above 2^53 — so bit-exact
    round-trip to the original is impossible *in numcodecs itself*, not
    just in our decoder. Real writers apply value filters before byte
    filters; the lossy regime gets its own regression test below."""
    seen_shuffle = False
    for kind in chain:
        if kind == "shuffle":
            seen_shuffle = True
        elif kind == "fixedscaleoffset" and seen_shuffle:
            return False
    return True


_filter_chain = st.lists(
    st.sampled_from(["delta", "shuffle", "astype", "fixedscaleoffset"]),
    min_size=0, max_size=3,
).filter(_chain_is_realizable)


@given(
    chain=_filter_chain,
    n=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_zarr_v2_filter_chain_roundtrip(chain, n, seed):
    """Encode an int64 array forward through a random supported filter
    chain (per numcodecs' published per-filter semantics), then decode via
    _decode_v2_filters: bit-exact recovery, any chain order/length."""
    import numpy as np

    from rca_data_tools_spark.sources.zarr import (
        _decode_v2_filters,
        _v2_filter_storage_dtype,
    )

    rng = np.random.RandomState(seed)
    # values small enough to survive <i4 astype stages without overflow
    arr = rng.randint(-1000, 1000, size=n).astype("<i8")
    arr.flags.writeable = False
    filters = []
    data = arr
    for kind in chain:
        in_dt = data.dtype
        if kind == "delta":
            f = {"id": "delta", "dtype": in_dt.str, "astype": "<i8"}
            enc = np.empty(n, dtype="<i8")
            enc[0] = data[0]
            enc[1:] = np.diff(data.astype("<i8"))
            data = enc
        elif kind == "shuffle":
            f = {"id": "shuffle", "elementsize": in_dt.itemsize}
            data = np.frombuffer(
                data.view("u1").reshape(-1, in_dt.itemsize).T.tobytes(), dtype=in_dt
            )
        elif kind == "astype":
            f = {"id": "astype", "encode_dtype": "<i8", "decode_dtype": in_dt.str}
            data = data.astype("<i8")
        else:  # fixedscaleoffset on integers: scale 1, offset 0 is lossless
            f = {"id": "fixedscaleoffset", "offset": 0, "scale": 1,
                 "dtype": in_dt.str, "astype": "<i8"}
            # faithful to numcodecs FixedScaleOffset.encode: (arr-offset)*scale
            # stays in the input's integer dtype, then np.around + astype —
            # no float detour for integer inputs.
            data = np.around((data - 0) * 1).astype("<i8")
        assert _v2_filter_storage_dtype(f, in_dt) == data.dtype
        filters.append(f)
    out = _decode_v2_filters(data.tobytes(), filters, np.dtype("<i8"))
    np.testing.assert_array_equal(out, arr)


def test_zarr_v2_fixedscaleoffset_after_shuffle_matches_numcodecs_decode():
    """Permanent regression for the round-5 Hypothesis falsifying example
    (chain=['shuffle','fixedscaleoffset'], n=2, seed=1). After shuffle the
    int64 items sit near 2^60, and numcodecs' FixedScaleOffset.decode
    (``enc/scale + offset`` through float64) is lossy above 2^53 — so the
    correct contract is NOT round-trip to the original array, it is
    bit-parity with numcodecs' own decode. Encode faithfully (integer
    arithmetic, per FixedScaleOffset.encode), decode via the engine, and
    compare against a literal model of numcodecs' decode for this chain."""
    import numpy as np

    from rca_data_tools_spark.sources.zarr import _decode_v2_filters

    rng = np.random.RandomState(1)
    arr = rng.randint(-1000, 1000, size=2).astype("<i8")
    # forward encode: shuffle (byte transpose), then fixedscaleoffset
    # (offset=0 scale=1 → integer identity per numcodecs encode semantics)
    shuffled = np.frombuffer(
        arr.view("u1").reshape(-1, 8).T.tobytes(), dtype="<i8"
    )
    enc = np.around((shuffled - 0) * 1).astype("<i8")
    filters = [
        {"id": "shuffle", "elementsize": 8},
        {"id": "fixedscaleoffset", "offset": 0, "scale": 1,
         "dtype": "<i8", "astype": "<i8"},
    ]
    out = _decode_v2_filters(enc.tobytes(), filters, np.dtype("<i8"))
    # numcodecs decode model: fso dec = enc/scale + offset (float64, lossy),
    # cast back to <i8, then un-shuffle
    fso_dec = (enc / 1.0 + 0.0).astype("<i8")
    expected = np.frombuffer(
        fso_dec.view("u1").reshape(8, -1).T.tobytes(), dtype="<i8"
    )
    np.testing.assert_array_equal(out, expected)
    # and the lossy regime is real: this chain does NOT round-trip
    assert not np.array_equal(out, arr)


@given(
    strings=st.lists(
        st.text(max_size=40).map(lambda s: s.replace("\x00", "")),
        min_size=1, max_size=30,
    ),
)
@settings(max_examples=50, deadline=None)
def test_global_heap_vlen_roundtrip(strings):
    """GCOL encode (per spec III.E: 16-byte object headers, 8-padded data,
    index-0 free-space terminator) -> read_vlen_strings recovers every
    string, including empties, via descriptor (len, collection, index)."""
    import struct

    import numpy as np

    from rca_data_tools_spark.sources.hdf5 import read_vlen_strings

    class _Buf:
        def __init__(self, b):
            self.b = b

        def pread(self, off, n):
            return self.b[off : off + n]

    strs = [s.encode("utf-8") for s in strings]
    base = 48  # arbitrary non-zero collection address
    body = b""
    for i, s in enumerate(strs, 1):
        body += struct.pack("<HH4xQ", i, 1, len(s)) + s
        body += b"\x00" * ((8 - len(s) % 8) % 8)
    total = 16 + len(body) + 16
    gcol = (
        b"GCOL" + struct.pack("<B3x", 1) + struct.pack("<Q", total)
        + body + struct.pack("<HH4xQ", 0, 0, 16)
    )
    buf = _Buf(b"\x00" * base + gcol)
    desc = np.zeros(len(strs) + 1, dtype=[("len", "<u4"), ("gcol", "<u8"), ("idx", "<u4")])
    for i, s in enumerate(strs):
        desc[i] = (len(s), base, i + 1)
    # trailing never-written element: zero address -> ""
    got = read_vlen_strings(buf, desc)
    assert got == [s.decode("utf-8") for s in strs] + [""]


# --- round-6 dedup algorithms vs brute-force Python references --------------

_vocab = [f"w{i}" for i in range(12)]
_doc_strategy = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=0, max_size=30).map(" ".join),
    min_size=2, max_size=8,
)


def _py_word_ngrams(text: str, n: int) -> list:
    # model functions.text.word_ngrams' published semantics exactly,
    # including the short-doc edge: count = max(1, n_toks-(n-1)), so a doc
    # with < n tokens yields one partial gram (and an empty doc the empty
    # string) rather than no gram at all
    toks = [t for t in text.strip().lower().split() if t]
    count = max(1, len(toks) - (n - 1))
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(count)))


@given(texts=_doc_strategy)
@settings(**SETTINGS)
def test_prefix_filtered_similarity_join_is_lossless(texts):
    """set_similarity_join (AllPairs prefix filtering) must produce EXACTLY
    the pairs the brute-force all-pairs Jaccard produces at the threshold —
    losslessness is the whole point of the prefix bound, so any miss is a
    bug in the prefix math, the global order, or the verify."""
    from tests.conftest import get_shared_spark
    from rca_data_tools_spark.operators.dedup import set_similarity_join

    spark = get_shared_spark()
    rows = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id1, r.id2): r.jaccard
        for r in set_similarity_join(d, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    expect = {}
    grams = {i: set(_py_word_ngrams(t, 3)) for i, t in rows}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = grams[i], grams[j]
            inter = len(a & b)
            jac = round(inter / (len(a) + len(b) - inter), 6)
            if jac >= 0.5:
                expect[(i, j)] = jac
    assert got == expect


@given(texts=_doc_strategy)
@settings(**SETTINGS)
def test_repeated_substring_spans_match_python_reference(texts):
    """repeated_substring_spans must equal a brute-force reference: flag
    every 4-token window whose text occurs in >= 2 docs, merge flagged
    positions with the gap > window rule, report (start, end, count)."""
    from collections import Counter

    from tests.conftest import get_shared_spark
    from rca_data_tools_spark.operators.dedup import repeated_substring_spans

    spark = get_shared_spark()
    W = 4
    rows = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r[0], r[1], r[2], r[3])
        for r in repeated_substring_spans(d, "doc_id", "text", window=W, min_df=2)
        .select("doc_id", "span_start", "span_end", "n_windows").collect()
    )
    # reference
    wins = {}
    for i, t in rows:
        toks = [x for x in t.strip().lower().split() if x]
        wins[i] = [" ".join(toks[p : p + W]) for p in range(max(0, len(toks) - W + 1))]
    df_count = Counter()
    for i, ws in wins.items():
        for w in set(ws):
            df_count[w] += 1
    expect = []
    for i, ws in wins.items():
        flagged = [p for p, w in enumerate(ws) if df_count[w] >= 2]
        if not flagged:
            continue
        start, prev, cnt = flagged[0], flagged[0], 1
        for p in flagged[1:]:
            if p - prev > W:
                expect.append((i, start, prev + W, cnt))
                start, cnt = p, 0
            prev = p
            cnt += 1
        expect.append((i, start, prev + W, cnt))
    assert got == sorted(expect)


# --- model-based DML chain: arbitrary op sequences == naive replay ----------

_DML_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("delete"), st.integers(2, 5), st.integers(0, 4)),
        st.tuples(st.just("update"), st.integers(2, 5), st.integers(0, 4)),
        st.tuples(st.just("merge"), st.integers(0, 45), st.integers(1, 8)),
        st.tuples(st.just("optimize"), st.just(0), st.just(0)),
        st.tuples(st.just("zorder"), st.just(0), st.just(0)),
        st.tuples(st.just("restore"), st.integers(0, 7), st.just(0)),
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=8, deadline=None)
@given(ops=_DML_OPS)
def test_dml_chain_equals_naive_replay(spark, tmp_path_factory, ops):
    """Model-based check of the WHOLE table stack: an arbitrary sequence of
    DELETE (deletion vectors), UPDATE (merge-on-read), MERGE (file-pruned
    copy-on-write), OPTIMIZE (DV-materializing compaction, plain and
    ZORDER), and RESTORE (rollback-as-commit to any earlier version)
    applied through the chain-advancing DML must leave exactly the table a
    naive row-by-row Python replay produces — whatever the interleaving.
    This is the composition surface where round 8's resurrection defect
    lived; the model admits no such state. RESTORE is modeled by keeping
    the full history of model states (the model's version chain) and
    snapping back to one of them."""
    import os

    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, merge_into_table, optimize_table,
        read_version, restore_table, update_into_table,
    )

    ddl = "id long, v double"
    root = str(tmp_path_factory.mktemp("dml") / "t")
    model = {i: float(i) for i in range(50)}
    create_table(
        spark.createDataFrame(sorted(model.items()), ddl), root,
        zone_key="id", n_files=4,
    )
    history = [dict(model)]  # committed model states, index = version

    for kind, a, b in ops:
        if kind == "delete":
            delete_into_table(spark, root, f"id % {a} = {b % a}", ddl)
            model = {i: v for i, v in model.items() if i % a != b % a}
        elif kind == "update":
            update_into_table(
                spark, root, f"id % {a} = {b % a}", {"v": "v + 100"}, ddl
            )
            model = {
                i: (v + 100 if i % a == b % a else v) for i, v in model.items()
            }
        elif kind == "merge":
            batch = [(a + j, 1000.0 + a + j) for j in range(b)]
            merge_into_table(
                spark, root, spark.createDataFrame(batch, ddl), ["id"], ddl
            )
            model.update({k: val for k, val in batch})
        elif kind == "restore":
            to_v = a % len(history)
            restore_table(root, to_v)
            model = dict(history[to_v])
        elif kind == "zorder":
            optimize_table(spark, root, target_bytes=1 << 30,
                           zorder_cols=["id", "v"])
        else:
            optimize_table(spark, root, target_bytes=1 << 30)
        history.append(dict(model))

    got = {r["id"]: r["v"] for r in read_version(spark, root, ddl).collect()}
    assert got == model
    # time travel is consistent with the model's whole history
    for v, snap in enumerate(history):
        back = {r["id"]: r["v"]
                for r in read_version(spark, root, ddl, n=v).collect()}
        assert back == snap, f"v{v} diverged from the model history"
