"""Zstandard frames (RFC 8878) decoded by pyarrow's bundled libzstd.

Newer Zarr stores default to zstd (numcodecs Zstd, zarr v3), and c-blosc's
zstd codec wraps each split as one frame. This module walks the frame layer
— magic, skippable frames, frame header, block headers, checksum — so
structural faults raise a typed error before any allocation: ``ValueError``
for corrupt or truncated frames and a Frame_Content_Size past
``max_output``, ``NotImplementedError`` for a Dictionary_ID (Zarr chunks
never use dictionaries). libzstd decodes each frame, verifies its content
checksum when present, and refuses a frame that does not decode to its
declared content size. Frames without one (streaming encoders, e.g. the
``zstd`` CLI reading stdin) go through pyarrow's streaming decompressor in
bounded reads.
"""

from __future__ import annotations

import pyarrow as pa

_MAGIC = 0xFD2FB528
_SKIPPABLE_LO = 0x184D2A50
_ZSTD = pa.Codec("zstd")
_READ = 1 << 20  # streaming-decode read size for frames without a content size


def arrow_decompress(codec: "pa.Codec", src, size: int) -> bytes:
    """``codec.decompress`` into ``size`` bytes with the package's
    loud-failure contract: pyarrow reports corrupt input as ``OSError`` (or
    ``ArrowInvalid``); surface it as ``ValueError``. The caller must check
    the decoded length: pyarrow returns ``size`` bytes whatever the stream
    produced for the LZ4 and snappy codecs."""
    try:
        return codec.decompress(src, size, asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"{codec.name}: {e}") from None


def _stream_decompress(frame, budget: int) -> bytes:
    """Decode one frame of unknown content size, at most ``budget`` bytes."""
    out = bytearray()
    try:
        with pa.CompressedInputStream(pa.BufferReader(frame), "zstd") as s:
            while True:
                piece = s.read(_READ)
                if not piece:
                    return bytes(out)
                out += piece
                if len(out) > budget:
                    raise ValueError("zstd: output exceeds size bound")
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"zstd: {e}") from None


def _frame_end(data: bytes, pos: int) -> int:
    """Offset just past the last block of a frame whose first block header
    starts at ``pos``."""
    n = len(data)
    while True:
        if n - pos < 3:
            raise ValueError("zstd: truncated block header")
        bh = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        btype = (bh >> 1) & 0x03
        if btype == 3:
            raise ValueError("zstd: reserved block type")
        stored = 1 if btype == 1 else bh >> 3  # RLE stores the one repeated byte
        if n - pos < stored:
            raise ValueError(f"zstd: truncated {('raw', 'RLE', 'compressed')[btype]} block")
        pos += stored
        if bh & 1:
            return pos


def zstd_decompress(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Decode one or more concatenated zstd frames to the original bytes."""
    view = memoryview(data)
    out = []
    total = 0
    pos = 0
    n = len(data)
    while pos < n:
        start = pos
        if n - pos < 4:
            raise ValueError("zstd: truncated frame magic")
        magic = int.from_bytes(data[pos : pos + 4], "little")
        pos += 4
        if (magic & 0xFFFFFFF0) == _SKIPPABLE_LO:
            pos += 4 + int.from_bytes(data[pos : pos + 4], "little")
            if pos > n:
                raise ValueError("zstd: truncated skippable frame")
            continue
        if magic != _MAGIC:
            raise ValueError(f"zstd: bad magic 0x{magic:08x}")
        if pos >= n:
            raise ValueError("zstd: truncated frame header")
        fhd = data[pos]
        pos += 1
        fcs_code = fhd >> 6
        single_segment = bool(fhd & 0x20)
        if fhd & 0x18:
            raise ValueError("zstd: reserved frame-header bits set")
        has_checksum = bool(fhd & 0x04)
        did_size = (0, 1, 2, 4)[fhd & 0x03]
        fcs_bytes = (0, 2, 4, 8)[fcs_code] if not (fcs_code == 0 and single_segment) else 1
        head = (0 if single_segment else 1) + did_size + fcs_bytes
        if n - pos < head:
            raise ValueError("zstd: truncated frame header")
        if not single_segment:
            pos += 1  # window descriptor
        if did_size:
            if int.from_bytes(data[pos : pos + did_size], "little"):
                raise NotImplementedError(
                    "zstd: dictionary-compressed frames not supported "
                    "(Zarr chunks never use dictionaries)"
                )
            pos += did_size
        content_size = None
        if fcs_bytes:
            content_size = int.from_bytes(data[pos : pos + fcs_bytes], "little")
            if fcs_bytes == 2:
                content_size += 256
            pos += fcs_bytes
        pos = _frame_end(data, pos)
        if has_checksum:
            if n - pos < 4:
                raise ValueError("zstd: truncated content checksum")
            pos += 4
        budget = max_output - total
        frame = view[start:pos]
        if content_size is None:
            got = _stream_decompress(frame, budget)
        else:
            if content_size > budget:
                raise ValueError("zstd: output exceeds size bound")
            try:
                got = _ZSTD.decompress(frame, content_size, asbytes=True)
            except (OSError, pa.ArrowException) as e:
                raise ValueError(
                    f"zstd: frame failed to decode to the {content_size} bytes "
                    f"its header said ({e})"
                ) from None
        total += len(got)
        out.append(got)
    return out[0] if len(out) == 1 else b"".join(out)
