"""Blosc1 chunk decoder: chunks are laid out by hand from the public
container format, with every compressed split produced by a real encoder
(pyarrow's bundled ``lz4_raw`` / ``snappy`` / ``zstd`` codecs, or zlib).
End-to-end: blosc zarr stores written by the test are scanned by the native
zarr reader."""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rca_data_tools_spark.sources.blosc import (
    blosc_decompress,
    lz4_block_decompress,
)

_ENCODERS = {
    1: pa.Codec("lz4_raw"),
    2: pa.Codec("snappy"),
    3: None,  # zlib
    4: pa.Codec("zstd"),
}


def lz4_block_compress(data: bytes) -> bytes:
    """One LZ4 block (no frame) from pyarrow's bundled liblz4."""
    return _ENCODERS[1].compress(data, asbytes=True)


def _compress_split(codec: int, split: bytes) -> bytes:
    enc = _ENCODERS[codec]
    return zlib.compress(split) if enc is None else enc.compress(split, asbytes=True)


def blosc_chunk(
    data: bytes,
    typesize: int,
    codec: int = 1,  # 1 = lz4
    shuffle: "bool | str" = True,
    blocksize: int | None = None,
    nsplits_override: int | None = None,
) -> bytes:
    """Encode one Blosc1 chunk the way c-blosc lays it out. ``codec`` is the
    blosc codec id: 1 lz4, 2 snappy, 3 zlib, 4 zstd.

    ``shuffle`` may be True (byte shuffle), False, or ``"bit"`` (bitshuffle —
    forward transform from the module under test; independence comes from the
    hand-derived bit vectors in test_bitshuffle_layout_vectors)."""
    from rca_data_tools_spark.sources.blosc import _split_rule, _CODECS, _bit_shuffle

    nbytes = len(data)
    blocksize = blocksize or nbytes
    if shuffle == "bit":
        flags = 0x4 | (codec << 5)
    else:
        flags = (0x1 if shuffle else 0) | (codec << 5)
    nblocks = -(-nbytes // blocksize)
    blocks = []
    for j in range(nblocks):
        raw = data[j * blocksize : (j + 1) * blocksize]
        if shuffle == "bit":
            raw = _bit_shuffle(raw, typesize)
        elif shuffle and typesize > 1:
            n_elem = len(raw) // typesize
            body = n_elem * typesize
            arr = np.frombuffer(raw[:body], dtype=np.uint8).reshape(n_elem, typesize)
            raw = arr.T.tobytes() + raw[body:]
        last_partial = len(raw) < blocksize
        nsplits = nsplits_override or (
            1
            if last_partial
            else (typesize if _split_rule(_CODECS[codec], typesize, blocksize) else 1)
        )
        neblock = len(raw) // nsplits
        enc = bytearray()
        for i in range(nsplits):
            want = neblock + (len(raw) - neblock * nsplits if i == nsplits - 1 else 0)
            split = raw[i * neblock : i * neblock + want]
            c = _compress_split(codec, split)
            if len(c) >= want:  # store uncompressed, as c-blosc does
                c = split
            enc += struct.pack("<i", len(c)) + c
        blocks.append(bytes(enc))
    header_len = 16 + 4 * nblocks
    bstarts, off = [], header_len
    for b in blocks:
        bstarts.append(off)
        off += len(b)
    cbytes = off
    chunk = struct.pack("<BBBB", 1, 1, flags, typesize)
    chunk += struct.pack("<iii", nbytes, blocksize, cbytes)
    chunk += struct.pack(f"<{nblocks}i", *bstarts)
    return chunk + b"".join(blocks)


def test_lz4_roundtrip_random_and_repetitive():
    rng = np.random.RandomState(3)
    for data in (
        rng.bytes(1000),
        b"abcdefgh" * 200,
        rng.bytes(13),
        np.arange(500, dtype="<f8").tobytes(),
    ):
        comp = lz4_block_compress(data)
        assert lz4_block_decompress(comp, len(data)) == data


def test_blosc_chunk_shapes():
    rng = np.random.RandomState(5)
    arr = (np.sin(np.arange(4096) / 10.0) * 1000).astype("<f8")
    data = arr.tobytes()
    # multi-block + shuffle + lz4 splits (the zarr-python default shape)
    for blocksize in (8192, 5000, len(data)):
        chunk = blosc_chunk(data, typesize=8, codec=1, shuffle=True, blocksize=blocksize)
        assert blosc_decompress(chunk) == data
    # snappy / zlib / zstd inner codecs, no shuffle
    for codec in (2, 3, 4):
        chunk = blosc_chunk(data, typesize=8, codec=codec, shuffle=False, blocksize=4096)
        assert blosc_decompress(chunk) == data
    # random (incompressible) data -> stored splits
    rdata = rng.bytes(2048)
    chunk = blosc_chunk(rdata, typesize=4, codec=1, shuffle=True, blocksize=1024)
    assert blosc_decompress(chunk) == rdata
    # encoder that used the non-default split mode: self-describing fallback
    chunk = blosc_chunk(data, typesize=8, codec=1, shuffle=True, blocksize=8192, nsplits_override=1)
    assert blosc_decompress(chunk) == data


def test_blosc_memcpy_and_errors():
    data = b"\x01\x02\x03\x04" * 8
    chunk = struct.pack("<BBBB", 1, 1, 0x2, 4) + struct.pack("<iii", len(data), len(data), 16 + len(data)) + data
    assert blosc_decompress(chunk) == data
    zstd = blosc_chunk(data, typesize=4, codec=1, shuffle=False)
    zstd = bytearray(zstd)
    zstd[2] = (zstd[2] & 0x1F) | (4 << 5)  # rewrite codec code to zstd
    with pytest.raises((NotImplementedError, ValueError)):
        blosc_decompress(bytes(zstd))


def _one_split_chunk(codec: int, nbytes: int, stream: bytes, typesize: int = 1, flags: int = 0) -> bytes:
    """A Blosc1 chunk of one block holding one split ``stream`` that the
    header says decodes to ``nbytes`` bytes (no stored-split fallback)."""
    block = struct.pack("<i", len(stream)) + stream
    header = struct.pack("<BBBB", 1, 1, flags | (codec << 5), typesize)
    header += struct.pack("<iii", nbytes, nbytes, 16 + 4 + len(block))
    return header + struct.pack("<i", 20) + block


def _snappy(data: bytes) -> bytes:
    return _ENCODERS[2].compress(data, asbytes=True)


def test_split_length_contract():
    """pyarrow returns a short LZ4 decode padded to the requested size; the
    decoder must still refuse any stream that is not exactly the declared
    length, alone and inside a blosc split. A zstd split whose frame
    declares more than the split holds is refused too."""
    data = np.arange(1000, dtype="<f8").tobytes()
    comp = lz4_block_compress(data)
    assert lz4_block_decompress(comp, len(data)) == data
    for size in (len(data) + 8, len(data) - 8, len(data) - 1):
        with pytest.raises(ValueError):
            lz4_block_decompress(comp, size)
    with pytest.raises(ValueError, match="negative"):
        lz4_block_decompress(comp, -1)
    with pytest.raises(ValueError):
        lz4_block_decompress(comp[:-3], len(data))
    assert blosc_decompress(_one_split_chunk(1, len(data), comp)) == data
    with pytest.raises(ValueError):
        blosc_decompress(_one_split_chunk(1, len(data) + 8, comp))
    frame = _ENCODERS[4].compress(data, asbytes=True)
    with pytest.raises(ValueError, match="size bound"):
        blosc_decompress(_one_split_chunk(4, len(data) - 8, frame))


@pytest.mark.parametrize(
    "data",
    [
        b"a",
        b"hello world " * 400,  # long runs -> 2-byte-offset copies
        bytes(range(256)) * 8,  # incompressible-ish literals
        np.arange(50_000, dtype="<f8").tobytes(),  # >64 KiB, varint length >2 bytes
        b"ab" * 40_000,  # overlapping-copy run-length case
        np.random.default_rng(7).integers(0, 255, 200_000, dtype=np.uint8).tobytes(),
    ],
    ids=["one", "repetitive", "literals", "floats", "rle", "random"],
)
def test_snappy_split_decodes_reference_encoder_output(data):
    assert blosc_decompress(_one_split_chunk(2, len(data), _snappy(data))) == data


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=1, max_size=4096))
def test_snappy_split_fuzz_reference_encoder(data):
    assert blosc_decompress(_one_split_chunk(2, len(data), _snappy(data))) == data


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=1, max_size=256), st.integers(1, 512))
def test_snappy_split_corrupt_stream_raises_typed(stream, nbytes):
    """Arbitrary split bytes must either decode to exactly ``nbytes`` or
    raise ValueError, never an internal error."""
    try:
        assert len(blosc_decompress(_one_split_chunk(2, nbytes, stream))) == nbytes
    except ValueError:
        pass


def test_snappy_split_corruption_cases():
    good = _snappy(b"hello hello hello hello")
    with pytest.raises(ValueError, match="varint"):
        blosc_decompress(_one_split_chunk(2, 32, b"\xff" * 6))
    # truncation mid-element or on an element boundary: loud either way
    with pytest.raises(ValueError):
        blosc_decompress(_one_split_chunk(2, 23, good[:-3]))
    # a copy reaching before the start of output
    with pytest.raises(ValueError):
        blosc_decompress(_one_split_chunk(2, 8, bytes([0x08, 0x01, 200]) + b"abcd"))
    # preamble promises more bytes than the elements produce
    abc = _snappy(b"abc")
    with pytest.raises(ValueError):
        blosc_decompress(_one_split_chunk(2, 32, b"\x20" + abc[1:]))
    # preamble disagrees with the split size the blosc header implies
    for nbytes in (2, 4, 40):
        with pytest.raises(ValueError, match="preamble"):
            blosc_decompress(_one_split_chunk(2, nbytes, abc))


def test_blosc_snappy_chunk_end_to_end():
    """A byte-shuffled Blosc1 chunk whose split is a real snappy stream
    (codec id 2): the wiring a ``Blosc(cname='snappy')`` Zarr store
    exercises."""
    data = np.arange(4096, dtype="<i4").tobytes()
    shuffled = np.frombuffer(data, dtype=np.uint8).reshape(-1, 4).T.tobytes()
    comp = _snappy(shuffled)
    assert len(comp) < len(data)
    assert blosc_decompress(_one_split_chunk(2, len(data), comp, typesize=4, flags=0x1)) == data


def test_corrupt_blosc_headers_raise_value_error():
    data = np.arange(512, dtype="<f8").tobytes()
    good = blosc_chunk(data, typesize=8, codec=1, blocksize=1024)
    assert blosc_decompress(good, max_output=len(data)) == data

    def patched(nbytes=None, blocksize=None, cbytes=None, typesize=None):
        raw = bytearray(good)
        n, b, c = struct.unpack_from("<iii", raw, 4)
        struct.pack_into("<iii", raw, 4, n if nbytes is None else nbytes,
                         b if blocksize is None else blocksize,
                         c if cbytes is None else cbytes)
        if typesize is not None:
            raw[3] = typesize
        return bytes(raw)

    cases = [
        patched(blocksize=0),
        patched(blocksize=-4),
        patched(nbytes=-1),
        patched(nbytes=2**31 - 1),  # offset table far past the chunk
        patched(cbytes=len(good) + 100),
        patched(cbytes=10),
        patched(typesize=0),
        good[:20],  # truncated inside the block-offset table
        good[:-7],  # truncated block data
    ]
    # a block offset pointing outside the chunk
    bad = bytearray(good)
    struct.pack_into("<i", bad, 16, len(good) + 64)
    cases.append(bytes(bad))
    bad = bytearray(good)
    struct.pack_into("<i", bad, 16, 3)  # inside the header
    cases.append(bytes(bad))
    for raw in cases:
        with pytest.raises(ValueError):
            blosc_decompress(raw)
    # a declared size larger than the chunk's byte size is refused up front
    with pytest.raises(ValueError, match="chunk holds"):
        blosc_decompress(good, max_output=len(data) - 8)


def test_bitshuffle_layout_vectors():
    """Hand-derived vectors pin the exact public layout (bitshuffle's numpy
    reference = little-bitorder bit-matrix transpose; c-blosc shuffle.c wraps
    it with size -= size % 8 + verbatim remainder) independently of the
    forward transform, so round-trip tests can't mask a mirrored layout."""
    from rca_data_tools_spark.sources.blosc import _bit_shuffle, _bit_unshuffle

    # typesize=1, 8 elements: plane p holds bit p (LSB-numbered) of each
    # element, element i at little-endian bit i of the plane byte.
    src = bytes([1, 0, 0, 0, 0, 0, 0, 0])  # only element 0 has bit 0 set
    assert _bit_shuffle(src, 1) == bytes([1, 0, 0, 0, 0, 0, 0, 0])
    src = bytes([0, 0, 0, 2, 0, 0, 0, 0])  # element 3, bit 1 -> plane 1, bit 3
    assert _bit_shuffle(src, 1) == bytes([0, 0b00001000, 0, 0, 0, 0, 0, 0])
    src = bytes([1] * 8)  # bit 0 of every element -> plane 0 = 0xFF
    assert _bit_shuffle(src, 1) == bytes([0xFF, 0, 0, 0, 0, 0, 0, 0])
    src = bytes([0x80] * 8)  # MSB of every element -> LAST plane (p=7)
    assert _bit_shuffle(src, 1) == bytes([0, 0, 0, 0, 0, 0, 0, 0xFF])
    # typesize=2: value 256 little-endian = byte 1 bit 0 -> plane row 8*1+0=8
    src = struct.pack("<8H", 256, 0, 0, 0, 0, 0, 0, 0)
    out = _bit_shuffle(src, 2)
    assert out[8] == 1 and all(b == 0 for i, b in enumerate(out) if i != 8)
    # remainder: 11 elements of 1 byte -> 8 transformed, last 3 verbatim
    src = bytes([1] * 8 + [0xAA, 0xBB, 0xCC])
    out = _bit_shuffle(src, 1)
    assert out[:8] == bytes([0xFF, 0, 0, 0, 0, 0, 0, 0])
    assert out[8:] == bytes([0xAA, 0xBB, 0xCC])
    # every vector inverts exactly
    for src, ts in [(bytes([0, 0, 0, 2, 0, 0, 0, 0]), 1), (struct.pack("<8H", 256, 0, 0, 0, 0, 0, 0, 0), 2)]:
        assert _bit_unshuffle(_bit_shuffle(src, ts), ts) == src


def test_bitshuffle_roundtrip_shapes():
    from rca_data_tools_spark.sources.blosc import _bit_shuffle, _bit_unshuffle

    rng = np.random.RandomState(11)
    for typesize in (1, 2, 4, 8, 12):
        for n_elem in (8, 16, 64, 65, 71, 7, 3):
            buf = rng.bytes(n_elem * typesize)
            assert _bit_unshuffle(_bit_shuffle(buf, typesize), typesize) == buf
        # trailing sub-element bytes ride along verbatim
        buf = rng.bytes(16 * typesize + max(0, typesize - 1))
        assert _bit_unshuffle(_bit_shuffle(buf, typesize), typesize) == buf


def test_blosc_bitshuffle_chunks():
    """Full-container decode with the bitshuffle flag set, all split shapes."""
    arr = (np.cos(np.arange(4096) / 7.0) * 500).astype("<f8")
    data = arr.tobytes()
    for blocksize in (8192, 4096, len(data)):
        chunk = blosc_chunk(data, typesize=8, codec=1, shuffle="bit", blocksize=blocksize)
        assert blosc_decompress(chunk) == data
    # zlib inner codec + bitshuffle; and a non-multiple-of-8 leftover block
    chunk = blosc_chunk(data[:1000], typesize=8, codec=3, shuffle="bit", blocksize=512)
    assert blosc_decompress(chunk) == data[:1000]
    # typesize=1 bitshuffle is a real transform (unlike byte shuffle)
    text = (b"status-ok " * 120)[:1111]
    chunk = blosc_chunk(text, typesize=1, codec=1, shuffle="bit", blocksize=512)
    assert blosc_decompress(chunk) == text


def test_zarr_scan_reads_bitshuffle_store(spark, tmp_path):
    """A zarr v2 store written with Blosc(shuffle=BITSHUFFLE) scans natively."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "bitshuf.zarr")
    d = os.path.join(root, "pressure")
    os.makedirs(d)
    n = 23
    vals = (np.arange(n, dtype="<f4") * 1.5 + 3.25).astype("<f4")
    meta = {
        "zarr_format": 2,
        "shape": [n],
        "chunks": [8],
        "dtype": "<f4",
        "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 2},
        "fill_value": None,
        "order": "C",
        "filters": None,
    }
    with open(os.path.join(d, ".zarray"), "w") as f:
        json.dump(meta, f)
    for cid in range(3):
        block = vals[cid * 8 : (cid + 1) * 8]
        if len(block) < 8:
            block = np.concatenate([block, np.zeros(8 - len(block), dtype="<f4")])
        with open(os.path.join(d, str(cid)), "wb") as f:
            f.write(blosc_chunk(block.astype("<f4").tobytes(), typesize=4, shuffle="bit"))
    rows = {r["idx"]: r["pressure"] for r in zarr_table(spark, root, ["pressure"]).collect()}
    assert len(rows) == n
    assert all(abs(rows[i] - float(vals[i])) < 1e-6 for i in range(n))


def test_zarr_scan_reads_blosc_store(spark, tmp_path):
    """End-to-end: a blosc-lz4(+shuffle) zarr v2 store scans natively."""
    from rca_data_tools_spark.sources.zarr import zarr_table

    root = str(tmp_path / "blosc.zarr")
    os.makedirs(root)
    n = 25
    temp = (np.sin(np.arange(n)) * 100).astype("<f8")
    temp[4] = -9999.0
    d = os.path.join(root, "temp")
    os.makedirs(d)
    meta = {
        "zarr_format": 2,
        "shape": [n],
        "chunks": [10],
        "dtype": "<f8",
        "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
        "fill_value": -9999.0,
        "order": "C",
        "filters": None,
    }
    with open(os.path.join(d, ".zarray"), "w") as f:
        json.dump(meta, f)
    for cid in range(3):
        block = temp[cid * 10 : (cid + 1) * 10]
        if len(block) < 10:
            block = np.concatenate([block, np.zeros(10 - len(block))])
        with open(os.path.join(d, str(cid)), "wb") as f:
            f.write(blosc_chunk(block.astype("<f8").tobytes(), typesize=8))
    rows = {r["idx"]: r for r in zarr_table(spark, root, ["temp"]).collect()}
    assert len(rows) == n
    assert rows[4]["temp"] is None  # fill -> NULL survives the blosc path
    for i in (0, 9, 10, 24):
        assert rows[i]["temp"] == pytest.approx(temp[i])


def test_zarr_to_parquet_ingest_conversion(spark, tmp_path):
    """The ingest conversion path: blosc store -> one distributed decode
    pass -> canonical Parquet with a rebuilt ts column; re-read is the
    vectorized parquet scan."""
    from rca_data_tools_spark.sources.zarr import zarr_to_parquet

    root = str(tmp_path / "ingest.zarr")
    os.makedirs(root)
    n = 20
    t = np.arange(n, dtype="<f8") * 3600.0  # seconds since epoch
    temp = (np.cos(np.arange(n)) * 10).astype("<f8")
    for name, arr in (("time", t), ("temp", temp)):
        d = os.path.join(root, name)
        os.makedirs(d)
        meta = {
            "zarr_format": 2, "shape": [n], "chunks": [8], "dtype": "<f8",
            "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
            "fill_value": None, "order": "C", "filters": None,
        }
        with open(os.path.join(d, ".zarray"), "w") as f:
            json.dump(meta, f)
        for cid in range(3):
            block = arr[cid * 8 : (cid + 1) * 8]
            if len(block) < 8:
                block = np.concatenate([block, np.zeros(8 - len(block))])
            with open(os.path.join(d, str(cid)), "wb") as f:
                f.write(blosc_chunk(block.astype("<f8").tobytes(), typesize=8))
    out = str(tmp_path / "temp.parquet")
    df = zarr_to_parquet(spark, root, ["temp"], out, time_var="time", time_unit="s")
    rows = {r["idx"]: r for r in df.collect()}
    assert len(rows) == n
    assert rows[3]["temp"] == pytest.approx(temp[3])
    assert rows[2]["ts"].hour == 2  # 2*3600s since epoch
    # the converted table is plain parquet: vectorized scan, no codec shim
    assert spark.read.parquet(out).count() == n


# --- LZ4 block decoder vs the REFERENCE lz4 CLI ------------------------------

_LZ4_CLI = __import__("shutil").which("lz4")


def _lz4_frame_blocks(frame: bytes):
    """Walk an LZ4 FRAME (public frame spec) and yield (compressed, raw_flag)
    data blocks — a ~20-line shim so the reference CLI's output can validate
    the BLOCK decoder, closing the spec-circularity noted in FIXTURES.md."""
    import struct

    assert struct.unpack_from("<I", frame, 0)[0] == 0x184D2204, "bad lz4 magic"
    flg = frame[4]
    assert (flg >> 6) == 1, "unsupported lz4 frame version"
    b_indep = bool(flg & 0x20)
    b_checksum = bool(flg & 0x10)
    c_size = bool(flg & 0x08)
    assert b_indep, "CLI produced block-dependent frame; pass -BI"
    pos = 6 + (8 if c_size else 0) + 1  # FLG+BD [+content size] +HC
    while True:
        (bsize,) = struct.unpack_from("<I", frame, pos)
        pos += 4
        if bsize == 0:  # EndMark
            break
        raw = bool(bsize & 0x80000000)
        bsize &= 0x7FFFFFFF
        yield frame[pos : pos + bsize], raw
        pos += bsize + (4 if b_checksum else 0)


@pytest.mark.skipif(_LZ4_CLI is None, reason="no reference lz4 CLI")
@pytest.mark.parametrize("level", ["-1", "-9", "-12"])
@pytest.mark.parametrize("bsize", ["-B4", "-B5"])
def test_lz4_block_decoder_against_reference_cli(level, bsize):
    import random
    import subprocess

    rng = random.Random(5)
    cases = [
        b"",
        b"a" * 10,
        b"the quick brown fox jumps over the lazy dog. " * 400,
        bytes(rng.randrange(256) for _ in range(30000)),      # incompressible
        bytes(rng.randrange(4) for _ in range(30000)),        # highly repetitive
        np.arange(20000, dtype="<i4").tobytes(),
        (b"abcabcabd" * 9000),                                # overlap matches
        bytes(rng.randrange(256) for _ in range(100)) * 900,  # long-range repeats
    ]
    from rca_data_tools_spark.sources.blosc import lz4_block_decompress

    for data in cases:
        frame = subprocess.run(
            [_LZ4_CLI, "-q", level, bsize, "-BI", "-c"],
            input=data, capture_output=True, check=True,
        ).stdout
        out = bytearray()
        max_block = {"-B4": 1 << 16, "-B5": 1 << 18}[bsize]
        for block, raw in _lz4_frame_blocks(frame):
            if raw:
                out += block
            else:
                want = min(max_block, len(data) - len(out))
                out += lz4_block_decompress(block, want)
        assert bytes(out) == data, (level, bsize, len(data))
