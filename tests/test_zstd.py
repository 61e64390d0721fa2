"""zstd frame reader (sources/zstd.py, libzstd via pyarrow): decodes the
REFERENCE zstd CLI's output where one exists on the machine (many
levels/shapes, with and without content size and checksum), with
hand-crafted raw/RLE frames and failure paths covered unconditionally, plus
the blosc-zstd and zarr-zstd integration routes."""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess

import numpy as np
import pytest

from rca_data_tools_spark.sources.zstd import zstd_decompress

_ZSTD_CLI = shutil.which("zstd")
needs_cli = pytest.mark.skipif(_ZSTD_CLI is None, reason="no reference zstd CLI")


def _cli(data: bytes, *args: str) -> bytes:
    return subprocess.run(
        [_ZSTD_CLI, "-q", "-c", *args], input=data, capture_output=True, check=True
    ).stdout


def _frame(blocks: list[tuple[int, bytes, int]], checksum: bytes | None = None) -> bytes:
    """Hand-assembled frame: single-segment, 1-byte FCS; blocks as
    (type, payload, regen_size)."""
    content = sum(r for _, _, r in blocks)
    out = struct.pack("<I", 0xFD2FB528) + bytes([0x20]) + bytes([content])
    for i, (btype, payload, regen) in enumerate(blocks):
        last = 1 if i == len(blocks) - 1 else 0
        size = regen if btype == 1 else len(payload)
        out += (last | (btype << 1) | (size << 3)).to_bytes(3, "little") + payload
    return out + (checksum or b"")


def test_handcrafted_raw_and_rle_blocks():
    f = _frame([(0, b"hello ", 6), (1, b"z", 4), (0, b"!", 1)])
    assert zstd_decompress(f) == b"hello zzzz!"


def test_skippable_frame_and_concatenation():
    skip = struct.pack("<II", 0x184D2A53, 3) + b"abc"
    f1 = _frame([(0, b"one", 3)])
    f2 = _frame([(0, b"two", 3)])
    assert zstd_decompress(f1 + skip + f2) == b"onetwo"


def test_loud_failures():
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00\x01\x02\x03rest")
    with pytest.raises(ValueError, match="truncated"):
        zstd_decompress(struct.pack("<I", 0xFD2FB528))
    # frame content size mismatch
    bad = bytearray(_frame([(0, b"abc", 3)]))
    bad[5] = 9  # FCS says 9, frame decodes 3
    with pytest.raises(ValueError, match="header said"):
        zstd_decompress(bytes(bad))


def test_truncated_raw_and_rle_blocks_raise():
    """A frame with NO content size and NO checksum is the only shape where
    a short raw/RLE payload could silently return short output — it must
    raise like the compressed-block path does."""
    import struct as _st

    head = _st.pack("<I", 0xFD2FB528) + bytes([0x00]) + bytes([0x00])  # fhd: no SS/FCS; window desc
    raw_hdr = (1 | (0 << 1) | (10 << 3)).to_bytes(3, "little")  # last raw block, bsize=10
    with pytest.raises(ValueError, match="truncated raw block"):
        zstd_decompress(head + raw_hdr + b"short")
    rle_hdr = (1 | (1 << 1) | (4 << 3)).to_bytes(3, "little")  # last RLE block, regen=4
    with pytest.raises(ValueError, match="truncated RLE block"):
        zstd_decompress(head + rle_hdr)  # repeated byte missing entirely


@needs_cli
@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_cli_roundtrip_shapes(level):
    import random

    rng = random.Random(42)
    cases = [
        b"",
        b"a",
        b"x" * 5000,
        b"the quick brown fox jumps over the lazy dog. " * 200,
        bytes(rng.randrange(256) for _ in range(20000)),  # incompressible
        b"".join(
            (b"header-%d " % i) + bytes(rng.randrange(4) for _ in range(50))
            for i in range(500)
        ),  # skewed alphabet -> FSE-compressed Huffman weights
        np.linspace(0, 1, 30000).tobytes(),
        np.arange(50000, dtype="<i8").tobytes(),
        b"abcdefgh" * 300000,  # multi-block
    ]
    for data in cases:
        for extra in ([], ["--no-check"]):
            assert zstd_decompress(_cli(data, f"-{level}", *extra)) == data


@needs_cli
def test_cli_ultra_long_and_corrupt_checksum():
    text = b"abcabcabd" * 100000
    assert zstd_decompress(_cli(text, "--ultra", "-22")) == text
    assert zstd_decompress(_cli(text, "--long=24", "-12")) == text
    c = bytearray(_cli(b"checksummed " * 100, "-3"))
    c[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(c))


@needs_cli
def test_blosc_chunk_with_zstd_splits():
    """A Blosc1 container whose block streams are zstd frames (c-blosc's
    zstd codec shape: ZSTD_compress output per unsplit block)."""
    from rca_data_tools_spark.sources.blosc import blosc_decompress

    arr = np.arange(400, dtype="<f8")
    raw = arr.tobytes()
    stream = _cli(raw, "-5")
    flags = 4 << 5  # zstd codec, no shuffle
    block = struct.pack("<i", len(stream)) + stream
    bstart = 16 + 4
    header = struct.pack(
        "<BBBBiii", 2, 1, flags, 8, len(raw), len(raw), bstart + len(block)
    )
    chunk = header + struct.pack("<i", bstart) + block
    np.testing.assert_array_equal(
        np.frombuffer(blosc_decompress(chunk), dtype="<f8"), arr
    )


@needs_cli
def test_zarr_v2_and_v3_zstd_chunks(spark, tmp_path):
    from rca_data_tools_spark.sources.zarr import zarr_table

    vals = np.linspace(10.0, 20.0, 23)
    # v2: numcodecs-Zstd shape — one zstd frame per chunk file
    root = str(tmp_path / "z2.zarr")
    os.makedirs(os.path.join(root, "v"))
    meta = {
        "zarr_format": 2, "shape": [23], "chunks": [10], "dtype": "<f8",
        "compressor": {"id": "zstd", "level": 3}, "fill_value": None,
        "order": "C", "filters": None,
    }
    with open(os.path.join(root, "v", ".zarray"), "w") as f:
        json.dump(meta, f)
    for cid in range(3):
        block = np.zeros(10, dtype="<f8")
        part = vals[cid * 10 : (cid + 1) * 10]
        block[: len(part)] = part
        with open(os.path.join(root, "v", str(cid)), "wb") as f:
            f.write(_cli(block.tobytes(), "-3"))
    got = [r["v"] for r in zarr_table(spark, root, ["v"]).orderBy("idx").collect()]
    np.testing.assert_allclose(got, vals)

    # v3: zstd codec after the bytes codec
    root3 = str(tmp_path / "z3.zarr")
    os.makedirs(os.path.join(root3, "v", "c"))
    meta3 = {
        "zarr_format": 3, "node_type": "array", "shape": [23],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [10]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0.0,
        "codecs": [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "zstd", "configuration": {"level": 5, "checksum": True}},
        ],
    }
    with open(os.path.join(root3, "v", "zarr.json"), "w") as f:
        json.dump(meta3, f)
    for cid in range(3):
        block = np.zeros(10, dtype="<f8")
        part = vals[cid * 10 : (cid + 1) * 10]
        block[: len(part)] = part
        with open(os.path.join(root3, "v", "c", str(cid)), "wb") as f:
            f.write(_cli(block.tobytes(), "-5"))
    got3 = [r["v"] for r in zarr_table(spark, root3, ["v"]).orderBy("idx").collect()]
    np.testing.assert_allclose(got3, vals)


def test_dictionary_frames_raise():
    # frame header declaring a 1-byte dictionary id
    f = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7, 3]) + b"\x01\x00\x00abc"
    with pytest.raises(NotImplementedError, match="dictionary"):
        zstd_decompress(f)


@needs_cli
def test_fuzz_corruptions_never_hang_or_miscrash(tmp_path):
    """Randomized bit/byte corruption over real frames: the decoder must
    either return the exact original (corruption in dead bytes) or raise a
    clean ValueError/NotImplementedError — never hang, loop, or surface an
    internal IndexError/struct.error. 500 mutations across three shapes."""
    import random

    rng = random.Random(1234)
    bases = [
        _cli(b"the quick brown fox " * 300, "-3"),
        _cli(bytes(rng.randrange(4) for _ in range(5000)), "-19"),
        _cli(b"x" * 10000, "-1"),
    ]
    for _ in range(500):
        base = bytearray(rng.choice(bases))
        for _ in range(rng.randrange(1, 4)):
            mode = rng.randrange(3)
            if mode == 0 and len(base) > 1:
                base[rng.randrange(len(base))] ^= 1 << rng.randrange(8)
            elif mode == 1 and len(base) > 2:
                del base[rng.randrange(len(base))]
            else:
                base.insert(rng.randrange(len(base) + 1), rng.randrange(256))
        try:
            zstd_decompress(bytes(base), max_output=1 << 24)
        except (ValueError, NotImplementedError):
            pass  # loud, typed failure is the contract
