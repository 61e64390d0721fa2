"""Native Zarr v2 scan: stores are written by hand (JSON metadata + binary
chunks — no zarr library in the runtime on either side), then scanned
distributed and compared against the source arrays."""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np
import pytest


def _write_array(root, name, arr, chunks, compressor=None, fill_value=None):
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    meta = {
        "zarr_format": 2,
        "shape": list(arr.shape),
        "chunks": list(chunks),
        "dtype": arr.dtype.str,
        "compressor": compressor,
        "fill_value": fill_value,
        "order": "C",
        "filters": None,
    }
    with open(os.path.join(d, ".zarray"), "w") as f:
        json.dump(meta, f)
    n_chunks = -(-arr.shape[0] // chunks[0])
    for cid in range(n_chunks):
        block = arr[cid * chunks[0] : (cid + 1) * chunks[0]]
        if block.shape[0] < chunks[0]:  # zarr pads edge chunks to full shape
            pad = np.full((chunks[0] - block.shape[0],) + arr.shape[1:], 0, dtype=arr.dtype)
            block = np.concatenate([block, pad])
        buf = np.ascontiguousarray(block).tobytes()
        if compressor is not None and compressor["id"] == "zlib":
            buf = zlib.compress(buf)
        fname = str(cid) if arr.ndim == 1 else f"{cid}.0"
        with open(os.path.join(d, fname), "wb") as f:
            f.write(buf)
    return meta


@pytest.fixture()
def store(tmp_path):
    root = str(tmp_path / "inst.zarr")
    os.makedirs(root)
    rng = np.random.RandomState(7)
    n = 25
    time = np.arange(n, dtype="<i8") * 1_000_000_000
    temp = rng.uniform(2, 10, n).astype("<f8")
    temp[4] = -9999.0  # fill sentinel
    spectra = rng.uniform(0, 1, (n, 3)).astype("<f8")
    m1 = _write_array(root, "time", time, [10])
    m2 = _write_array(root, "temp", temp, [10], compressor={"id": "zlib", "level": 1}, fill_value=-9999.0)
    m3 = _write_array(root, "spectra", spectra, [10, 3], compressor={"id": "zlib", "level": 1})
    # consolidated metadata document, as the reference's stores have
    with open(os.path.join(root, ".zmetadata"), "w") as f:
        json.dump(
            {"zarr_format": 2, "metadata": {"time/.zarray": m1, "temp/.zarray": m2, "spectra/.zarray": m3}},
            f,
        )
    return root, time, temp, spectra


def test_zarr_scan_values_and_fill(spark, store):
    from rca_data_tools_spark.sources.zarr import zarr_table

    root, time, temp, spectra = store
    df = zarr_table(spark, root, ["time", "temp", "spectra"])
    rows = {r["idx"]: r for r in df.collect()}
    assert len(rows) == 25
    for i in (0, 9, 10, 24):  # chunk interior, boundary, edge-chunk trim
        assert rows[i]["time"] == float(time[i])
        assert rows[i]["spectra"] == pytest.approx(list(spectra[i]))
    assert rows[4]["temp"] is None  # fill_value -> NULL (NaN nulls via Arrow)
    assert rows[5]["temp"] == pytest.approx(temp[5])


def test_zarr_scan_distributes_chunks(spark, store):
    from rca_data_tools_spark.sources.zarr import zarr_table

    root, *_ = store
    df = zarr_table(spark, root, ["temp"])
    # 25 rows / chunk0=10 -> 3 tasks-worth of chunk rows; the scan is built on
    # a 3-row chunk index, not a single driver read
    assert df.count() == 25
    from pyspark.sql import functions as F

    agg = df.agg(F.count("temp").alias("n_valid")).collect()[0]
    assert agg["n_valid"] == 24  # one fill -> null? (NaN counts as non-null)


def test_zarr_rejects_mismatched_grid_and_unknown_codec(spark, tmp_path):
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "bad.zarr")
    os.makedirs(root)
    a = np.arange(20, dtype="<f8")
    _write_array(root, "a", a, [10])
    _write_array(root, "b", a, [5])
    with pytest.raises(ValueError, match="chunk grid"):
        zarr_table(spark, root, ["a", "b"])

    root2 = str(tmp_path / "zstd.zarr")
    os.makedirs(root2)
    meta = _write_array(root2, "c", a, [10])
    meta["compressor"] = {"id": "zstd", "level": 1}
    with open(os.path.join(root2, "c", ".zarray"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(Exception, match="zstd"):
        zarr_table(spark, root2, ["c"]).collect()


def test_zarr_string_encoded_fill_values(spark, tmp_path):
    """Zarr v2 JSON-encodes non-finite fills as strings ("NaN"/"Infinity"/
    "-Infinity"); they must still convert to NULL, not silently no-op."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "strfill.zarr")
    os.makedirs(root)
    a = np.arange(10, dtype="<f8")
    a[3] = np.inf
    b = np.arange(10, dtype="<f8")
    b[7] = np.nan
    meta_a = _write_array(root, "a", a, [10])
    meta_a["fill_value"] = "Infinity"
    with open(os.path.join(root, "a", ".zarray"), "w") as f:
        json.dump(meta_a, f)
    meta_b = _write_array(root, "b", b, [10])
    meta_b["fill_value"] = "NaN"
    with open(os.path.join(root, "b", ".zarray"), "w") as f:
        json.dump(meta_b, f)
    rows = {r["idx"]: r for r in zarr_table(spark, root, ["a", "b"]).collect()}
    assert rows[3]["a"] is None
    assert rows[7]["b"] is None
    assert rows[2]["a"] == 2.0 and rows[2]["b"] == 2.0


def _write_array_v3(root, name, arr, chunks, codec=None, fill_value=None,
                    key_encoding="default", endian="little"):
    """Hand-written Zarr v3 array per the public v3 spec: zarr.json metadata
    + c/<i>[/<j>] chunk files (default key encoding)."""
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    codecs = [{"name": "bytes", "configuration": {"endian": endian}}]
    if codec == "gzip":
        codecs.append({"name": "gzip", "configuration": {"level": 1}})
    dtype_name = {"f8": "float64", "f4": "float32", "i8": "int64", "i4": "int32"}[
        arr.dtype.str[1:]
    ]
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(arr.shape),
        "data_type": dtype_name,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": list(chunks)}},
        "chunk_key_encoding": {"name": key_encoding,
                               "configuration": {"separator": "/" if key_encoding == "default" else "."}},
        "fill_value": fill_value,
        "codecs": codecs,
    }
    with open(os.path.join(d, "zarr.json"), "w") as f:
        json.dump(meta, f)
    n_chunks = -(-arr.shape[0] // chunks[0])
    for cid in range(n_chunks):
        block = arr[cid * chunks[0] : (cid + 1) * chunks[0]]
        if block.shape[0] < chunks[0]:
            pad = np.full((chunks[0] - block.shape[0],) + arr.shape[1:], 0, dtype=arr.dtype)
            block = np.concatenate([block, pad])
        buf = np.ascontiguousarray(block).tobytes()
        if codec == "gzip":
            buf = zlib.compress(buf)
        if key_encoding == "default":
            key = f"c/{cid}" if arr.ndim == 1 else f"c/{cid}/0"
            os.makedirs(os.path.dirname(os.path.join(d, key)), exist_ok=True)
        else:
            key = str(cid) if arr.ndim == 1 else f"{cid}.0"
        with open(os.path.join(d, key), "wb") as f:
            f.write(buf)


def test_zarr_v3_scan(spark, tmp_path):
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "v3.zarr")
    os.makedirs(root)
    rng = np.random.RandomState(3)
    n = 23
    time = np.arange(n, dtype="<i8")
    temp = rng.uniform(2, 10, n).astype("<f8")
    temp[5] = 0.0  # STORED zero — must survive despite fill_value == 0.0
    spectra = rng.uniform(0, 1, (n, 4)).astype("<f8")
    _write_array_v3(root, "time", time, [10])
    # fill_value 0.0 is zarr-python's v3 DEFAULT: v3 fill means "value of
    # unwritten chunks", not a missing sentinel, so stored values equal to
    # it must NOT be rewritten to NULL (only v2 keeps the equality rewrite;
    # v3 missing-data semantics ride on CF attributes).
    _write_array_v3(root, "temp", temp, [10], codec="gzip", fill_value=0.0)
    _write_array_v3(root, "spectra", spectra, [10, 4], codec="gzip")
    df = zarr_table(spark, root, ["time", "temp", "spectra"])
    rows = df.orderBy("idx").collect()
    assert len(rows) == n
    np.testing.assert_allclose([r["time"] for r in rows], time)
    got_temp = [r["temp"] for r in rows]
    assert got_temp[5] == 0.0  # stored zero intact, NOT nuked to NULL
    np.testing.assert_allclose(got_temp, temp)
    np.testing.assert_allclose([list(r["spectra"]) for r in rows], spectra)


def test_zarr_v3_v2_style_keys_and_unsupported_codec(spark, tmp_path):
    from rca_data_tools_spark.sources.zarr import _load_array_meta, zarr_table

    root = str(tmp_path / "v3b.zarr")
    os.makedirs(root)
    vals = np.arange(12, dtype="<f8")
    _write_array_v3(root, "v", vals, [5], key_encoding="v2")
    df = zarr_table(spark, root, ["v"])
    np.testing.assert_allclose(
        [r["v"] for r in df.orderBy("idx").collect()], vals
    )
    # genuinely-unsupported codecs still raise loudly at metadata parse
    d = os.path.join(root, "pcodec")
    os.makedirs(d)
    with open(os.path.join(d, "zarr.json"), "w") as f:
        json.dump(
            {
                "zarr_format": 3, "node_type": "array", "shape": [4],
                "data_type": "float64",
                "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
                "codecs": [{"name": "pcodec", "configuration": {}}],
            },
            f,
        )
    with pytest.raises(NotImplementedError, match="pcodec"):
        _load_array_meta(root, "pcodec")


def _crc32c_ref(data: bytes) -> int:
    from rca_data_tools_spark.sources.zarr import _crc32c

    return _crc32c(data)


def _write_shard(path, blocks: list[bytes | None], crc: bool, at_end: bool = True):
    """Assemble one zarr v3 shard: inner chunk blobs + (offset, nbytes)
    uint64 index (missing chunks = all-ones), optionally crc32c-suffixed."""
    import struct

    body = bytearray()
    entries = []
    for blob in blocks:
        if blob is None:
            entries.append((0xFFFFFFFFFFFFFFFF, 0xFFFFFFFFFFFFFFFF))
        else:
            off = len(body) + (0 if at_end else 16 * len(blocks) + (4 if crc else 0))
            entries.append((off, len(blob)))
            body += blob
    index = b"".join(struct.pack("<QQ", o, n) for o, n in entries)
    if crc:
        index += struct.pack("<I", _crc32c_ref(index))
    with open(path, "wb") as f:
        f.write(bytes(body) + index if at_end else index + bytes(body))


def test_zarr_v3_sharded_scan(spark, tmp_path):
    """sharding_indexed: shards assemble from inner chunks through the inner
    codec chain; missing inner chunks read as the declared fill_value (v3:
    kept as data); the index crc32c is verified."""
    import zlib as _zlib

    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "v3s.zarr")
    os.makedirs(os.path.join(root, "v", "c"))
    vals = np.arange(23, dtype="<f8") + 0.5
    vals[16:20] = -7.0  # will come from a MISSING inner chunk (fill)
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [23],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [12]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": -7.0,
        "codecs": [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": [4],
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "gzip", "configuration": {"level": 5}},
                ],
                "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}],
                "index_location": "end",
            },
        }],
    }
    with open(os.path.join(root, "v", "zarr.json"), "w") as f:
        json.dump(meta, f)

    def inner(lo):
        block = np.full(4, -7.0, dtype="<f8")
        part = vals[lo : lo + 4]
        block[: len(part)] = part
        return _zlib.compress(block.tobytes())

    # shard 0: rows 0..11 (3 inner chunks); shard 1: rows 12..22, with the
    # middle inner chunk (rows 16..19) MISSING -> fill value
    _write_shard(os.path.join(root, "v", "c", "0"), [inner(0), inner(4), inner(8)], crc=True)
    _write_shard(os.path.join(root, "v", "c", "1"), [inner(12), None, inner(20)], crc=True)

    df = zarr_table(spark, root, ["v"])
    rows = df.orderBy("idx").collect()
    got = [r["v"] for r in rows]
    # v3: a missing (elided) inner chunk reads as the DECLARED fill_value
    # kept as DATA — identical to a stored chunk full of -7.0 (zarr v3
    # spec: fill_value = value of uninitialised portions; zarr-python
    # write_empty_chunks=False elides exactly those chunks)
    assert all(got[i] == -7.0 for i in range(16, 20))
    np.testing.assert_allclose(got, vals)

    # corrupt index -> loud error
    p = os.path.join(root, "v", "c", "0")
    blob = bytearray(open(p, "rb").read())
    blob[-1] ^= 0xFF
    with open(p, "wb") as f:
        f.write(bytes(blob))
    from rca_data_tools_spark.sources.zarr import _decode_chunk, _load_array_meta

    m = _load_array_meta(root, "v")
    with pytest.raises(ValueError, match="crc32c"):
        _decode_chunk(__import__("rca_data_tools_spark.sources.bytes_io", fromlist=["as_store"]).as_store(root), "v/c/0", m)


def test_zarr_v3_shard_index_at_start_no_crc(spark, tmp_path):
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "v3s2.zarr")
    os.makedirs(os.path.join(root, "v", "c"))
    vals = np.linspace(1.0, 2.0, 8).astype("<f8")
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [8],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0.0,
        "codecs": [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": [4],
                "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
                "index_codecs": [{"name": "bytes"}],
                "index_location": "start",
            },
        }],
    }
    with open(os.path.join(root, "v", "zarr.json"), "w") as f:
        json.dump(meta, f)
    _write_shard(
        os.path.join(root, "v", "c", "0"),
        [vals[:4].tobytes(), vals[4:].tobytes()],
        crc=False, at_end=False,
    )
    got = [r["v"] for r in zarr_table(spark, root, ["v"]).orderBy("idx").collect()]
    np.testing.assert_allclose(got, vals)


def test_zarr_v2_lz4_chunks(spark, tmp_path):
    """numcodecs-LZ4 chunk shape: 4-byte uncompressed-size prefix + LZ4
    block, decoded by the same block decoder the blosc splits use."""
    import struct as _st

    from rca_data_tools_spark.sources.zarr import zarr_table
    from tests.test_blosc import lz4_block_compress

    root = str(tmp_path / "l.zarr")
    os.makedirs(os.path.join(root, "v"))
    vals = np.arange(13, dtype="<f8") * 2.0
    meta = {
        "zarr_format": 2, "shape": [13], "chunks": [5], "dtype": "<f8",
        "compressor": {"id": "lz4", "acceleration": 1}, "fill_value": None,
        "order": "C", "filters": None,
    }
    with open(os.path.join(root, "v", ".zarray"), "w") as f:
        json.dump(meta, f)
    for cid in range(3):
        block = np.zeros(5, dtype="<f8")
        part = vals[cid * 5 : (cid + 1) * 5]
        block[: len(part)] = part
        raw = block.tobytes()
        with open(os.path.join(root, "v", str(cid)), "wb") as f:
            f.write(_st.pack("<i", len(raw)) + lz4_block_compress(raw))
    got = [r["v"] for r in zarr_table(spark, root, ["v"]).orderBy("idx").collect()]
    np.testing.assert_allclose(got, vals)


def test_codec_chunk_length_contract():
    """A numcodecs LZ4 chunk must decode to exactly its size prefix, and
    every codec header declaring more than the chunk's byte size (shape x
    itemsize) is refused before decode: all as ValueError."""
    import pyarrow as pa

    from rca_data_tools_spark.sources.zarr import _decode_buf
    from tests.test_blosc import blosc_chunk, lz4_block_compress

    meta = {"compressor": {"id": "lz4"}, "dtype": "<f8", "chunks": [10]}
    raw = np.arange(10, dtype="<f8").tobytes()
    half = lz4_block_compress(raw[:40])
    np.testing.assert_array_equal(
        _decode_buf(struct.pack("<i", 80) + lz4_block_compress(raw), meta),
        np.arange(10, dtype="<f8"),
    )
    bad = [
        struct.pack("<i", 80) + half,  # prefix larger than the stream decodes
        struct.pack("<i", -8) + half,  # negative prefix
        struct.pack("<i", 88) + lz4_block_compress(raw + raw[:8]),  # past the chunk
        b"\x50\x00",  # shorter than the 4-byte prefix
    ]
    for chunk in bad:
        with pytest.raises(ValueError):
            _decode_buf(chunk, meta)
    big = np.arange(11, dtype="<f8").tobytes()
    with pytest.raises(ValueError, match="chunk holds"):
        _decode_buf(blosc_chunk(big, typesize=8), dict(meta, compressor={"id": "blosc"}))
    with pytest.raises(ValueError, match="size bound"):
        _decode_buf(
            pa.Codec("zstd").compress(big, asbytes=True),
            dict(meta, compressor={"id": "zstd"}),
        )


def test_zarr_missing_chunks_read_as_fill(spark, tmp_path):
    """Unwritten chunks are legal Zarr (zarr-python defaults to
    write_empty_chunks=False): a missing chunk object — v2 chunk file or a
    whole v3 shard — reads as fill_value, not a crashed scan."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    # v2: delete the middle chunk file -> its 10 rows are fill -> NULL
    root = str(tmp_path / "gap.zarr")
    os.makedirs(root)
    vals = np.arange(25, dtype="<f8")
    _write_array(root, "v", vals, [10], fill_value=-9999.0)
    os.remove(os.path.join(root, "v", "1"))
    rows = {r["idx"]: r["v"] for r in zarr_table(spark, root, ["v"]).collect()}
    assert len(rows) == 25
    assert all(rows[i] is None for i in range(10, 20))
    assert rows[9] == 9.0 and rows[20] == 20.0

    # integer dtype with no fill_value declared: missing chunk reads as 0
    root2 = str(tmp_path / "gap_int.zarr")
    os.makedirs(root2)
    ivals = np.arange(20, dtype="<i8") + 1
    _write_array(root2, "n", ivals, [10])
    os.remove(os.path.join(root2, "n", "0"))
    irows = {r["idx"]: r["n"] for r in zarr_table(spark, root2, ["n"]).collect()}
    assert all(irows[i] == 0 for i in range(10))
    assert irows[15] == 16


def test_zarr_v3_missing_whole_shard_reads_as_fill(spark, tmp_path):
    """A sharded v3 store where one outer shard object was never written:
    every inner chunk of that shard reads as the declared fill_value, kept
    as DATA (the same semantics _decode_shard gives a missing INNER chunk,
    and the same values a stored all-fill shard would yield)."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "v3gap.zarr")
    os.makedirs(os.path.join(root, "v", "c"))
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [20],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [10]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": -5.0,
        "codecs": [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": [5],
                "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
                "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}],
                "index_location": "end",
            },
        }],
    }
    with open(os.path.join(root, "v", "zarr.json"), "w") as f:
        json.dump(meta, f)
    # write ONLY shard 0 (rows 0..9); shard 1 is absent entirely
    blocks = [np.arange(5, dtype="<f8").tobytes(),
              (np.arange(5, dtype="<f8") + 5).tobytes()]
    _write_shard(os.path.join(root, "v", "c", "0"), blocks, crc=True)
    rows = {r["idx"]: r["v"] for r in zarr_table(spark, root, ["v"]).collect()}
    assert len(rows) == 20
    assert rows[3] == 3.0 and rows[8] == 8.0
    assert all(rows[i] == -5.0 for i in range(10, 20))  # declared fill, as data


def test_zarr_time_range_pruned_scan(spark, tmp_path):
    """Time-slice pruning: the scan plan contains only the chunk tasks
    overlapping the slice — proven by CORRUPTING every out-of-slice chunk
    (decode would raise if touched) — and the pruned result equals the
    full scan filtered on the same time values. The row bounds come from
    O(log n_chunks) driver-side boundary decodes (time_row_range)."""
    from rca_data_tools_spark.sources.zarr import time_row_range, zarr_table

    root = str(tmp_path / "pruned.zarr")
    os.makedirs(root)
    n, c0 = 97, 10
    time = (np.arange(n, dtype="<i8") * 60 + 1_000) * 1_000_000_000
    vals = np.arange(n, dtype="<f8") * 0.5
    _write_array(root, "time", time, [c0])
    _write_array(root, "v", vals, [c0], compressor={"id": "zlib", "level": 1})

    t_lo, t_hi = int(time[33]), int(time[61])  # rows 33..60 -> chunks 3..6
    row_lo, row_hi = time_row_range(root, "time", t_lo, t_hi)
    assert (row_lo, row_hi) == (33, 61)

    full = zarr_table(spark, root, ["time", "v"]).collect()
    expect = sorted(
        (r["idx"], r["time"], r["v"]) for r in full if t_lo <= r["time"] < t_hi
    )
    via_time = zarr_table(
        spark, root, ["time", "v"], time_var="time", time_range=(t_lo, t_hi)
    ).collect()
    assert sorted((r["idx"], r["time"], r["v"]) for r in via_time) == expect
    assert len(via_time) == 28

    # corrupt every chunk outside chunks 3..6 of BOTH variables (the bisect
    # itself probes O(log n) arbitrary chunks, so prune by the precomputed
    # row bounds here): zlib 'v' chunks fail loudly on decode; raw 'time'
    # chunks are truncated to a size _decode_chunk rejects — so a fetch of
    # ANY out-of-slice chunk, driver or executor side, would raise
    for var in ("time", "v"):
        for cid in range(-(-n // c0)):
            if 3 <= cid <= 6:
                continue
            with open(os.path.join(root, var, str(cid)), "wb") as f:
                f.write(b"\x01\x02\x03")

    pruned = zarr_table(
        spark, root, ["time", "v"], row_range=(row_lo, row_hi)
    ).collect()
    assert sorted((r["idx"], r["time"], r["v"]) for r in pruned) == expect

    # empty slice: empty-but-well-typed, zero chunk tasks, nothing decoded
    empty = zarr_table(
        spark, root, ["time", "v"], row_range=(5, 5)
    )
    assert empty.count() == 0 and [f.name for f in empty.schema.fields] == ["idx", "time", "v"]


def test_zarr_time_row_range_edges(tmp_path):
    from rca_data_tools_spark.sources.zarr import time_row_range

    root = str(tmp_path / "edges.zarr")
    os.makedirs(root)
    time = np.array([10, 10, 20, 30, 30, 30, 40, 50, 60], dtype="<i8")
    _write_array(root, "time", time, [4])
    assert time_row_range(root, "time", 10, 61) == (0, 9)     # everything
    assert time_row_range(root, "time", 0, 10) == (0, 0)      # before start
    assert time_row_range(root, "time", 61, 99) == (9, 9)     # past end
    assert time_row_range(root, "time", 30, 31) == (3, 6)     # dup run
    assert time_row_range(root, "time", 15, 45) == (2, 7)     # mid chunks
    assert time_row_range(root, "time", 35, 35) == (6, 6)     # degenerate


def test_zarr_to_parquet_time_range(spark, tmp_path, store):
    """Sliced ingest: --time-range converts only the requested span (the
    pruned scan under the hood), producing a ts column bounded by it."""
    from rca_data_tools_spark.sources.zarr import zarr_to_parquet

    root, time, temp, _ = store
    t_lo, t_hi = int(time[7]), int(time[19])
    out = str(tmp_path / "sliced.parquet")
    df = zarr_to_parquet(
        spark, root, ["temp"], out, time_var="time", time_unit="us",
        time_range=(t_lo, t_hi),
    )
    rows = df.orderBy("idx").collect()
    assert [r["idx"] for r in rows] == list(range(7, 19))
    got = np.array([r["temp"] for r in rows], dtype=float)
    expect = temp[7:19].copy()
    np.testing.assert_allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(expect, nan=-1))


def test_zarr_time_pruning_guards(spark, tmp_path, store):
    """Misuse fails loudly: time_range without time_var (silently returning
    the full scan would masquerade as the slice), and a time coordinate
    whose length disagrees with the scanned variables' axis."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root, *_ = store
    with pytest.raises(ValueError, match="together"):
        zarr_table(spark, root, ["temp"], time_range=(0, 1))
    with pytest.raises(ValueError, match="together"):
        zarr_table(spark, root, ["temp"], time_var="time")

    short = str(tmp_path / "short.zarr")
    os.makedirs(short)
    _write_array(short, "time", np.arange(50, dtype="<i8"), [10])
    _write_array(short, "v", np.arange(25, dtype="<f8"), [10])
    with pytest.raises(ValueError, match="different\\s+axis|50 rows"):
        zarr_table(spark, short, ["v"], time_var="time", time_range=(0, 10))


def test_zarr_v3_crc32c_chunk_codec(spark, tmp_path):
    """v3 crc32c codec on chunk DATA: stored chunk = gzip(payload) + 4-byte
    little-endian CRC-32C; the scan verifies and strips it, and a corrupted
    chunk fails loudly instead of decoding garbage."""
    import zlib as _zlib

    from rca_data_tools_spark.sources.zarr import _crc32c, zarr_table

    root = str(tmp_path / "crc.zarr")
    d = os.path.join(root, "v")
    os.makedirs(d)
    vals = np.arange(9, dtype="<f8") * 1.5
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [9],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [5]}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": None,
        "codecs": [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "gzip", "configuration": {"level": 1}},
            {"name": "crc32c"},
        ],
    }
    with open(os.path.join(d, "zarr.json"), "w") as f:
        json.dump(meta, f)
    for cid in range(2):
        block = np.zeros(5, dtype="<f8")
        part = vals[cid * 5 : (cid + 1) * 5]
        block[: len(part)] = part
        payload = _zlib.compress(block.tobytes())
        payload += _crc32c(payload).to_bytes(4, "little")
        os.makedirs(os.path.join(d, "c"), exist_ok=True)
        with open(os.path.join(d, "c", str(cid)), "wb") as f:
            f.write(payload)
    got = {r["idx"]: r["v"] for r in zarr_table(spark, root, ["v"]).collect()}
    assert got == {i: vals[i] for i in range(9)}

    # flip one byte -> the chunk's scan must fail, not return wrong values
    p = os.path.join(d, "c", "0")
    raw = bytearray(open(p, "rb").read())
    raw[3] ^= 0xFF
    with open(p, "wb") as f:
        f.write(bytes(raw))
    with pytest.raises(Exception, match="crc32c mismatch"):
        zarr_table(spark, root, ["v"]).collect()


def test_zarr_v3_transpose_codec(spark, tmp_path):
    """v3 transpose codec: a (time, k) chunk stored column-major as order
    [1, 0]; decode inverts the permutation so rows come back as written."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "tr.zarr")
    d = os.path.join(root, "spec")
    os.makedirs(os.path.join(d, "c", "0"))
    os.makedirs(os.path.join(d, "c", "1"))
    rng = np.random.RandomState(11)
    arr = rng.uniform(0, 1, (7, 3)).astype("<f8")
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [7, 3],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 3]}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": 0.0,
        "codecs": [
            {"name": "transpose", "configuration": {"order": [1, 0]}},
            {"name": "bytes", "configuration": {"endian": "little"}},
        ],
    }
    with open(os.path.join(d, "zarr.json"), "w") as f:
        json.dump(meta, f)
    for cid in range(2):
        block = np.zeros((4, 3), dtype="<f8")
        part = arr[cid * 4 : (cid + 1) * 4]
        block[: len(part)] = part
        with open(os.path.join(d, "c", str(cid), "0"), "wb") as f:
            f.write(np.ascontiguousarray(block.T).tobytes())  # stored permuted
    rows = zarr_table(spark, root, ["spec"]).orderBy("idx").collect()
    np.testing.assert_allclose([list(r["spec"]) for r in rows], arr)


def test_zarr_cf_packed_attrs_unpack(spark, tmp_path):
    """xarray-style CF packing in .zattrs: int16 chunks + scale_factor /
    add_offset / _FillValue unpack to doubles with fill -> NULL, and
    time-slice pruning transforms PHYSICAL bounds into packed space before
    bisecting the packed time coordinate."""
    from rca_data_tools_spark.sources.zarr import time_row_range, zarr_table

    root = str(tmp_path / "cf.zarr")
    os.makedirs(root)
    # packed time: physical t = packed * 10 + 1000 -> packed 0..11
    tpacked = np.arange(12, dtype="<i2")
    _write_array(root, "time", tpacked, [5])
    with open(os.path.join(root, "time", ".zattrs"), "w") as f:
        json.dump({"scale_factor": 10.0, "add_offset": 1000.0}, f)
    # packed sst: physical = packed * 0.01 + 20, fill -32768
    sp = np.array([100, 250, -32768, -50, 0, 75, 125, -32768, 10, 20, 30, 40],
                  dtype="<i2")
    _write_array(root, "sst", sp, [5])
    with open(os.path.join(root, "sst", ".zattrs"), "w") as f:
        json.dump({"scale_factor": 0.01, "add_offset": 20.0,
                   "_FillValue": -32768}, f)

    rows = {r["idx"]: r["sst"]
            for r in zarr_table(spark, root, ["sst"]).collect()}
    assert rows[2] is None and rows[7] is None
    assert rows[0] == pytest.approx(21.0)
    assert rows[3] == pytest.approx(19.5)

    # physical bounds 1020 <= t < 1070 -> packed 2 <= p < 7 -> rows [2, 7)
    assert time_row_range(root, "time", 1020.0, 1070.0) == (2, 7)


def test_zarr_v3_consolidated_metadata(spark, tmp_path):
    """zarr-python 3 consolidated metadata: every array's document inline in
    the ROOT zarr.json — the scan must resolve metadata AND attributes from
    it without any per-variable zarr.json (one GET on object stores)."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "cons3.zarr")
    t = np.arange(8, dtype="<f8")
    sp = np.array([10, 20, -99, 40, 50, -99, 70, 80], dtype="<i4")
    docs = {}
    for name, arr in [("t", t), ("sst", sp)]:
        d = os.path.join(root, name, "c")
        os.makedirs(d)
        with open(os.path.join(d, "0"), "wb") as f:
            f.write(arr.tobytes())
        docs[name] = {
            "zarr_format": 3, "node_type": "array", "shape": [8],
            "data_type": {"<f8": "float64", "<i4": "int32"}[arr.dtype.str],
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [8]}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": None,
            "codecs": [{"name": "bytes",
                        "configuration": {"endian": "little"}}],
        }
    docs["sst"]["attributes"] = {
        "scale_factor": 0.5, "add_offset": 100.0, "_FillValue": -99,
    }
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump({
            "zarr_format": 3, "node_type": "group",
            "consolidated_metadata": {"kind": "inline", "metadata": docs},
        }, f)
    # NO per-variable zarr.json files exist: consolidated is the only source
    rows = {r["idx"]: r for r in zarr_table(spark, root, ["t", "sst"]).collect()}
    assert rows[2]["sst"] is None and rows[5]["sst"] is None
    assert rows[0]["sst"] == pytest.approx(105.0)  # 10*0.5+100
    assert rows[7]["sst"] == pytest.approx(140.0)
    np.testing.assert_allclose([rows[i]["t"] for i in range(8)], t)


def test_zarr_v2_fixed_width_string_variables(spark, tmp_path):
    """v2 |S and <U dtypes scan as string columns (padding stripped) beside
    numeric variables — the station/id metadata arrays real stores carry."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "strs.zarr")
    os.makedirs(root)
    sta = np.array([b"CE04", b"RS03", b"", b"AX1"], dtype="S4")
    uni = np.array(["alpha", "beta", "", "gam"], dtype="<U5")
    t = np.arange(4, dtype="<f8") * 2
    _write_array(root, "sta", sta, [2], compressor={"id": "zlib", "level": 1})
    _write_array(root, "uni", uni, [2])
    _write_array(root, "t", t, [2])
    df = zarr_table(spark, root, ["sta", "uni", "t"])
    types = dict(df.dtypes)
    assert types["sta"] == "string" and types["uni"] == "string"
    rows = df.orderBy("idx").collect()
    assert [r["sta"] for r in rows] == ["CE04", "RS03", "", "AX1"]
    assert [r["uni"] for r in rows] == ["alpha", "beta", "", "gam"]
    np.testing.assert_allclose([r["t"] for r in rows], t)


def test_zarr_time_row_range_negative_scale_refuses(tmp_path):
    """Mirror of the HDF5-side guard: a CF-packed time coordinate with a
    negative scale_factor is decreasing in packed space — refuse loudly
    instead of bisecting a sequence the bisect's contract forbids."""
    from rca_data_tools_spark.sources.zarr import time_row_range

    root = str(tmp_path / "negscale.zarr")
    os.makedirs(root)
    packed = -np.arange(20, dtype="<i8")  # physical t = p*(-2) + 50, rising
    _write_array(root, "time", packed, chunks=(8,))
    with open(os.path.join(root, "time", ".zattrs"), "w") as f:
        json.dump({"scale_factor": -2.0, "add_offset": 50.0}, f)
    with pytest.raises(NotImplementedError, match="negative scale_factor"):
        time_row_range(root, "time", 10.0, 30.0)
