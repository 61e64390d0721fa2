"""Blosc1 chunk decoder (the common Zarr v2 codec): the container layout,
shuffles and split framing in numpy, every compressed split through
pyarrow's bundled C codecs.

Real OOI Zarr stores are typically written with zarr-python's default
compressor, ``Blosc(cname='lz4', clevel=5, shuffle=SHUFFLE)`` (reference
stores opened at rca_data_tools/qaqc/dashboard.py:305-313). This runtime
ships no ``blosc`` binding, but the container is a small public spec
(c-blosc README_CHUNK_FORMAT.rst): a 16-byte little-endian header
``(version, versionlz, flags, typesize, nbytes, blocksize, cbytes)``, then
either a verbatim copy (memcpy flag) or per-block ``int32`` start offsets
followed by independently compressed blocks, each block a sequence of
splits ``(int32 csize, stream)``.

Decode shape: called executor-side from the Zarr chunk scan (one call per
chunk, inside ``mapInArrow``), so it costs no driver time and parallelizes
with the chunk grid.

Supported: byte-shuffle, bit-shuffle, memcpy chunks, LZ4 / zlib / zstd /
snappy / blosclz-stored splits. LZ4 and snappy splits decode through
``pyarrow.Codec('lz4_raw'/'snappy')``, zstd splits through the frame reader
in sources/zstd.py, zlib through the stdlib; blosclz only when splits are
stored uncompressed (its compressed form is a different spec). Every split
must decode to exactly its expected size, and every structural fault
raises ``ValueError``.

Bit-shuffle layout (public, two independent definitions that agree):
the bitshuffle library's own pure-numpy reference model — a little-bitorder
bit-matrix transpose, ``unpackbits(..., bitorder='little')`` of the block
reshaped ``(n_elem, typesize*8)``, transposed, repacked little — and the C
kernels themselves: ``bshuf_trans_bit_byte`` extracts planes MSB-down via
movemask but stores plane ``7-kk`` (so plane p = bit p counting from the
LSB, element i at mask bit i), then ``bshuf_trans_bitrow_eight`` reorders
rows to ``8*byte_index + bit_index`` (byte-major). c-blosc's wrapper
(shuffle.c ``bitshuffle``/``bitunshuffle``) transforms only the leading
multiple-of-8 element count per block (``size -= size % 8``) and memcpys the
remainder verbatim. No golden c-blosc bitshuffle output can be produced in
this runtime (no bitshuffle/blosc wheel); validation is the published layout
definition plus forward/inverse round-trip and hand-derived bit vectors in
tests/test_blosc.py — the same bar the C kernels are tested to upstream.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa

from rca_data_tools_spark.sources.zstd import arrow_decompress, zstd_decompress

# flags bits (blosc.h)
_SHUFFLE, _MEMCPYED, _BITSHUFFLE = 0x1, 0x2, 0x4
_CODECS = {0: "blosclz", 1: "lz4", 2: "snappy", 3: "zlib", 4: "zstd"}
# split rule constants (c-blosc split_block, FORWARD_COMPAT mode)
_MAX_STREAMS = 16
_MIN_BUFFERSIZE = 128
_LZ4 = pa.Codec("lz4_raw")
_SNAPPY = pa.Codec("snappy")


def lz4_block_decompress(src: bytes, out_size: int) -> bytes:
    """One LZ4 *block* (no frame header) that must decode to exactly
    ``out_size`` bytes. pyarrow's ``lz4_raw`` codec fails a stream that
    overflows its output buffer but returns a short decode padded to the
    buffer size, so the exact length is checked by requiring the stream to
    overflow ``out_size - 1`` bytes."""
    if out_size < 0:
        raise ValueError(f"LZ4 block declares a negative size {out_size}")
    out = arrow_decompress(_LZ4, src, out_size)
    if out_size:
        try:
            arrow_decompress(_LZ4, src, out_size - 1)
        except ValueError:
            return out
        raise ValueError(f"LZ4 stream decoded fewer than the expected {out_size} bytes")
    return out


def _snappy_decompress(src: bytes, out_size: int) -> bytes:
    """One raw snappy stream that must decode to exactly ``out_size``
    bytes. The preamble (uncompressed length, an unsigned varint) must
    equal ``out_size``; libsnappy then refuses a stream whose elements
    produce any other length."""
    want = 0
    for pos, b in enumerate(src[:5]):
        want |= (b & 0x7F) << (7 * pos)
        if not b & 0x80:
            break
    else:
        raise ValueError("snappy: truncated or over-long length varint")
    if want != out_size:
        raise ValueError(f"snappy: preamble says {want} bytes, expected {out_size}")
    return arrow_decompress(_SNAPPY, src, out_size)


def _unshuffle(buf: bytes, typesize: int) -> bytes:
    """Inverse byte-shuffle: blosc stores all first bytes of every element,
    then all second bytes, ... Trailing bytes past the last whole element are
    stored verbatim."""
    n_elem = len(buf) // typesize
    body = n_elem * typesize
    arr = np.frombuffer(buf[:body], dtype=np.uint8).reshape(typesize, n_elem)
    return arr.T.tobytes() + buf[body:]


def _bit_shuffle(buf: bytes, typesize: int) -> bytes:
    """Forward bit-shuffle of one block, c-blosc semantics (shuffle.c
    ``bitshuffle``): bit-matrix transpose of the leading multiple-of-8
    element count, remainder bytes copied verbatim. Shipped so tests can
    round-trip the decoder and so the test encoder can author golden-free
    fixtures; the scan path only ever calls the inverse."""
    n_elem = len(buf) // typesize
    core = n_elem - n_elem % 8
    body = core * typesize
    if core == 0:
        return buf
    bits = np.unpackbits(np.frombuffer(buf[:body], dtype=np.uint8), bitorder="little")
    planes = bits.reshape(core, typesize * 8).T  # row r = bit r (8*byte+bit_lsb)
    return np.packbits(planes.reshape(-1), bitorder="little").tobytes() + buf[body:]


def _bit_unshuffle(buf: bytes, typesize: int) -> bytes:
    """Inverse bit-shuffle (shuffle.c ``bitunshuffle``): the block holds
    ``typesize*8`` bit-planes of ``core/8`` bytes each — plane ``r`` is bit
    ``r`` (LSB-numbered within each byte, bytes in element order) of every
    element, element ``i`` at little-endian bit ``i`` of the plane — followed
    by the verbatim remainder (< 8 elements plus sub-element bytes)."""
    n_elem = len(buf) // typesize
    core = n_elem - n_elem % 8
    body = core * typesize
    if core == 0:
        return buf
    bits = np.unpackbits(np.frombuffer(buf[:body], dtype=np.uint8), bitorder="little")
    elems = bits.reshape(typesize * 8, core).T  # row i = bits of element i
    return np.packbits(elems.reshape(-1), bitorder="little").tobytes() + buf[body:]


def _decode_split(codec: str, stream: bytes, out_size: int) -> bytes:
    if codec == "lz4":
        return lz4_block_decompress(stream, out_size)
    if codec == "snappy":
        return _snappy_decompress(stream, out_size)
    if codec == "zlib":
        out = zlib.decompress(stream)
    elif codec == "zstd":
        # c-blosc wraps each zstd split as a standard zstd frame
        out = zstd_decompress(stream, max_output=out_size)
    else:
        raise NotImplementedError(
            f"blosc inner codec {codec!r} not decodable in this runtime "
            "(supported: lz4, zlib, zstd, snappy, and uncompressed splits)"
        )
    if len(out) != out_size:
        raise ValueError(f"{codec} split decoded {len(out)} bytes, expected {out_size}")
    return out


def _split_rule(codec: str, typesize: int, blocksize: int) -> bool:
    """c-blosc's FORWARD_COMPAT split mode: blosclz/lz4 blocks are split into
    one stream per shuffled byte plane when the type is narrow enough."""
    return (
        codec in ("blosclz", "lz4")
        and 0 < typesize <= _MAX_STREAMS
        and blocksize // typesize >= _MIN_BUFFERSIZE
    )


def _decode_block(codec: str, raw: bytes, lo: int, hi: int, bsize: int, nsplits: int) -> bytes:
    """One block = ``nsplits`` x (int32 csize, stream). Returns None-raising
    on structural mismatch so the caller can try the other split count."""
    neblock = bsize // nsplits
    leftover = bsize - neblock * nsplits
    pos = lo
    parts = []
    for i in range(nsplits):
        want = neblock + (leftover if i == nsplits - 1 else 0)
        if pos + 4 > hi:
            raise ValueError("split header past block end")
        (csize,) = struct.unpack_from("<i", raw, pos)
        pos += 4
        if csize < 0 or pos + csize > hi:
            raise ValueError("split stream past block end")
        stream = raw[pos : pos + csize]
        pos += csize
        if csize == want:  # stored uncompressed (compression didn't pay)
            parts.append(stream)
        else:
            parts.append(_decode_split(codec, stream, want))
    if pos != hi:
        raise ValueError(f"block consumed {pos - lo} of {hi - lo} bytes")
    return b"".join(parts)


def blosc_decompress(raw: bytes, max_output: int | None = None) -> bytes:
    """Decode one Blosc1 chunk to its original bytes. ``max_output`` (the
    chunk's byte size, when the caller knows it) refuses a larger declared
    ``nbytes`` before anything is allocated."""
    if len(raw) < 16:
        raise ValueError("blosc chunk shorter than its 16-byte header")
    version, _versionlz, flags, typesize = raw[0], raw[1], raw[2], raw[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<iii", raw, 4)
    if version < 1 or version > 2:
        raise NotImplementedError(f"blosc chunk version {version} unsupported (blosc1/2 only)")
    if nbytes < 0:
        raise ValueError(f"blosc header declares a negative size {nbytes}")
    if max_output is not None and nbytes > max_output:
        raise ValueError(f"blosc header declares {nbytes} bytes, chunk holds {max_output}")
    if flags & _MEMCPYED:
        if len(raw) < 16 + nbytes:
            raise ValueError("memcpy blosc chunk truncated")
        return raw[16 : 16 + nbytes]

    if blocksize <= 0 or typesize == 0:
        raise ValueError(
            f"blosc header declares block size {blocksize}, type size {typesize}"
        )
    codec = _CODECS.get(flags >> 5, f"code{flags >> 5}")
    nblocks = -(-nbytes // blocksize)
    body = 16 + 4 * nblocks
    if not body <= cbytes <= len(raw):
        raise ValueError(
            f"blosc chunk of {len(raw)} bytes cannot hold {nblocks} block offsets "
            f"and the {cbytes} bytes its header declares"
        )
    bstarts = list(struct.unpack_from(f"<{nblocks}i", raw, 16))
    ends = bstarts[1:] + [cbytes]
    if any(not body <= lo <= hi for lo, hi in zip(bstarts, ends)):
        raise ValueError("blosc block offsets out of order or outside the chunk")
    leftover = nbytes - (nblocks - 1) * blocksize
    view = memoryview(raw)  # splits are sliced without copying
    blocks = []
    rule_splits = typesize if _split_rule(codec, typesize, blocksize) else 1
    for j, (lo, hi) in enumerate(zip(bstarts, ends)):
        last = j == nblocks - 1
        bsize = leftover if last else blocksize
        # c-blosc never splits the leftover block
        nsplits = 1 if (last and bsize < blocksize) else rule_splits
        try:
            block = _decode_block(codec, view, lo, hi, bsize, nsplits)
        except ValueError:
            # encoder used the other split mode (env-configurable in c-blosc);
            # the int32-csize chain is self-describing enough to disambiguate
            alt = 1 if nsplits != 1 else (typesize if typesize > 1 else 1)
            if alt == nsplits:
                raise
            block = _decode_block(codec, view, lo, hi, bsize, alt)
        if flags & _BITSHUFFLE:
            # meaningful even at typesize 1 (bit-transpose of plain bytes)
            block = _bit_unshuffle(block, typesize)
        elif flags & _SHUFFLE and typesize > 1:
            block = _unshuffle(block, typesize)
        blocks.append(block)
    out = b"".join(blocks)
    if len(out) != nbytes:
        raise ValueError(f"blosc chunk decoded {len(out)} bytes, expected {nbytes}")
    return out
