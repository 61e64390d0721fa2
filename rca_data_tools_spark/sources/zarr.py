"""Native Zarr v2 + v3 scan (SURVEY §2.1 S1) — no zarr/xarray dependency.

The reference's canonical source is a consolidated Zarr store per instrument
stream (rca_data_tools/qaqc/dashboard.py:305-313, ``xr.open_zarr(...,
consolidated=True)``). The engine's primary storage stays Parquet (readers.py)
— columnar, pushdown-friendly — but raw archives arrive as Zarr, so this
module scans a v2 store directly into a DataFrame.

Zarr v2 is a deliberately simple format: per-array JSON metadata
(``<var>/.zarray`` — shape, chunk shape, dtype, compressor, fill_value) plus
one flat binary file per chunk (``<var>/0``, ``<var>/1.0``, ...), optionally
consolidated into a single ``.zmetadata`` document. That layout is exactly a
distributed scan's friend: the chunk grid is the task grid.

Scale shape: the driver reads ONLY the metadata (a few KB); the chunk index
becomes a small DataFrame, and an Arrow ``mapInPandas`` pass decodes chunks
executor-side — one task per batch of chunk rows, no driver-side array
materialization, linear scale-out in chunk count. On an object store the
same keys are fetched by executors (fsspec-style paths); nothing changes
structurally.

Supported: C-order arrays, raw / zlib / gzip compressors (stdlib), zstd
chunks (numcodecs-Zstd v2 stores and zarr v3's default compressor; frame
reader in zstd.py over pyarrow's libzstd), numcodecs LZ4 chunks, blosc
chunks with lz4/zlib/zstd/snappy splits and byte- or bit-shuffle (blosc.py
— zarr-python v2's default codec, so real OOI archives read natively; LZ4,
snappy and zstd decode through pyarrow's bundled C codecs), float and int
dtypes, 1-D ``(time,)`` and 2-D ``(time, k)`` variables — the reference's
data model (§1.1: 2-D params become array columns), and the numcodecs v2
filters listed in ``_V2_FILTERS``; any other v2 filter refuses at metadata
time rather than silently mis-decoding.

Zarr v3 stores (zarr.json array documents) are normalized onto the same
decode path: regular chunk grids, `bytes` (either endian) +
gzip/zlib/zstd/blosc codecs, `sharding_indexed` stores (inner-chunk
assembly with crc32c-verified indexes), default or v2-style chunk key
encodings. Transpose, chunk-level crc32c, and other codecs raise loudly.
"""

from __future__ import annotations

import json
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from rca_data_tools_spark.sources.blosc import blosc_decompress, lz4_block_decompress
from rca_data_tools_spark.sources.bytes_io import as_store
from rca_data_tools_spark.sources.zstd import zstd_decompress


# Zarr v3 data_type names -> numpy kind+size (endianness comes from the
# `bytes` codec configuration).
_V3_DTYPES = {
    "float64": "f8", "float32": "f4",
    "int64": "i8", "int32": "i4", "int16": "i2", "int8": "i1",
    "uint64": "u8", "uint32": "u4", "uint16": "u2", "uint8": "u1",
}


def _normalize_codecs(codecs: list, allow_sharding: bool = True):
    """(endian, compressor, shard_conf, transpose, checksum) from a v3 codec
    chain. shard_conf is None unless the chain is `sharding_indexed` (whose
    inner chain is normalized recursively — nested sharding raises).
    ``transpose`` is the codec's order list (or None); ``checksum`` is True
    when a trailing crc32c codec protects the stored chunk bytes."""
    endian, compressor, shard, transpose, checksum = "little", None, None, None, False
    for c in codecs:
        name = c.get("name")
        conf = c.get("configuration", {}) or {}
        if name != "crc32c" and checksum:
            # the scan verifies ONE trailing checksum over the stored bytes;
            # a codec after crc32c would mean the crc sits mid-chain
            raise NotImplementedError(
                f"zarr v3 codec {name!r} after crc32c (checksum must be last)"
            )
        if name == "bytes":
            endian = conf.get("endian", "little")
        elif name in ("gzip", "zlib"):
            compressor = {"id": "zlib"}
        elif name == "zstd":
            # zarr v3's default compressor: one zstd frame per chunk
            compressor = {"id": "zstd"}
        elif name == "blosc":
            # v3 blosc chunks carry the same blosc1 frame the shim decodes
            compressor = {"id": "blosc"}
        elif name == "crc32c":
            # stored chunk = payload + 4-byte little-endian CRC-32C; decode
            # verifies and strips it (same algorithm as shard indexes)
            checksum = True
        elif name == "sharding_indexed":
            if not allow_sharding:
                raise NotImplementedError("zarr v3 nested sharding")
            i_endian, i_comp, i_shard, i_transpose, i_checksum = _normalize_codecs(
                conf.get("codecs", [{"name": "bytes"}]), allow_sharding=False
            )
            assert i_shard is None
            index_codecs = [
                ic.get("name") for ic in conf.get("index_codecs", [{"name": "bytes"}])
            ]
            for ic in index_codecs:
                if ic not in ("bytes", "crc32c"):
                    raise NotImplementedError(
                        f"zarr v3 shard index codec {ic!r} (bytes/crc32c supported)"
                    )
            shard = {
                "inner_chunks": list(conf["chunk_shape"]),
                "endian": i_endian,
                "compressor": i_comp,
                "transpose": i_transpose,
                "checksum": i_checksum,
                "index_crc32c": "crc32c" in index_codecs,
                "index_location": conf.get("index_location", "end"),
            }
            endian = i_endian
        elif name == "transpose":
            # array->array codec: the stored layout is the chunk transposed
            # by `order`; decode reshapes to the permuted shape and inverts
            transpose = [int(o) for o in conf["order"]]
        else:
            raise NotImplementedError(f"zarr v3 codec {name!r} not supported")
    return endian, compressor, shard, transpose, checksum


def _normalize_v3_meta(meta: dict) -> dict:
    """Map a v3 array document (zarr.json) onto the v2-shaped meta dict the
    scan uses, so one decode path serves both format versions. A
    `sharding_indexed` codec adds a `shard` sub-dict: the store key's blob
    is then a shard (inner chunks + trailing offset index) rather than one
    chunk."""
    if meta.get("node_type") != "array":
        raise ValueError("zarr v3 metadata is not an array node")
    grid = meta["chunk_grid"]
    if grid.get("name") != "regular":
        raise NotImplementedError(f"zarr v3 chunk grid {grid.get('name')!r}")
    endian, compressor, shard, transpose, checksum = _normalize_codecs(
        meta.get("codecs", [])
    )
    if meta["data_type"] not in _V3_DTYPES:
        raise NotImplementedError(f"zarr v3 data_type {meta['data_type']!r}")
    dtype = ("<" if endian == "little" else ">") + _V3_DTYPES[meta["data_type"]]
    cke = meta.get("chunk_key_encoding", {"name": "default"})
    return {
        "zarr_format": 3,
        "shape": meta["shape"],
        "chunks": grid["configuration"]["chunk_shape"],
        "dtype": dtype,
        "order": "C",
        "fill_value": meta.get("fill_value"),
        "compressor": compressor,
        "shard": shard,
        "transpose": transpose,
        "checksum": checksum,
        "chunk_key": {
            "name": cke.get("name", "default"),
            "separator": (cke.get("configuration") or {}).get(
                "separator", "/" if cke.get("name", "default") == "default" else "."
            ),
        },
    }


def _chunk_key(meta: dict, indices: tuple[int, ...]) -> str:
    """Chunk file name for grid position ``indices`` in either format:
    v2 dot-joined ('0', '1.0'); v3 default 'c/0/0' or v2-style encoding."""
    if meta.get("zarr_format") == 3:
        ck = meta["chunk_key"]
        sep = ck["separator"]
        if ck["name"] == "default":
            return "c" + "".join(f"{sep}{i}" for i in indices)
        return sep.join(str(i) for i in indices)  # "v2" encoding
    return ".".join(str(i) for i in indices)


def _try_get(store, key: str):
    """One GET, missing-key -> None. Ask-forgiveness instead of
    exists()-then-get(): over HTTP the probe pattern costs a request (and a
    HEAD round trip) per question, which dominated the driver's metadata
    phase in the native-scan bench."""
    try:
        return store.get(key)
    except (KeyError, FileNotFoundError):
        return None


def _consolidated_docs(store) -> dict:
    """Both consolidated-metadata documents, fetched AT MOST ONCE per store
    instance (cached on the instance; a fresh zarr_table call coerces a
    fresh store, so the cache scopes to one scan's metadata phase): the v2
    ``.zmetadata`` mapping and the v3 root ``zarr.json``'s
    consolidated_metadata mapping. One GET each — the reason the reference
    opens consolidated stores on S3."""
    cached = getattr(store, "_consolidated_cache", None)
    if cached is not None:
        return cached
    docs: dict = {"v2": None, "v3": None}
    zm = _try_get(store, ".zmetadata")
    if zm is not None:
        docs["v2"] = json.loads(zm)["metadata"]
    else:
        rj = _try_get(store, "zarr.json")
        if rj is not None:
            docs["v3"] = (
                (json.loads(rj).get("consolidated_metadata") or {}).get("metadata")
                or {}
            )
    try:
        store._consolidated_cache = docs
    except AttributeError:
        pass
    return docs


def _load_array_meta(store, var: str) -> dict:
    """Array metadata for ``var`` from a KeyValueStore — or a directory path
    / blob dict, coerced — (consolidated .zmetadata / v3 root document
    preferred: ONE store read covers the whole dataset)."""
    store = as_store(store)
    docs = _consolidated_docs(store)
    if docs["v2"] is not None and f"{var}/.zarray" in docs["v2"]:
        return _check_v2_filters(docs["v2"][f"{var}/.zarray"])
    doc = (docs["v3"] or {}).get(var)
    if doc is not None and doc.get("node_type") == "array":
        return _normalize_v3_meta(doc)
    raw = _try_get(store, f"{var}/.zarray")
    if raw is not None:
        return _check_v2_filters(json.loads(raw))
    raw = _try_get(store, f"{var}/zarr.json")
    if raw is not None:
        return _normalize_v3_meta(json.loads(raw))
    raise FileNotFoundError(
        f"no zarr v2 (.zarray) or v3 (zarr.json) metadata for {var!r} in store"
    )


#: numcodecs filters this scan can reverse (published semantics; see
#: _decode_v2_filters). Anything else refuses at metadata time.
_V2_FILTERS = {"delta", "fixedscaleoffset", "quantize", "shuffle", "astype", "packbits"}


def _check_v2_filters(meta: dict) -> dict:
    """Gate the v2 ``filters`` chain at metadata time: a filter this scan
    cannot reverse must refuse HERE, loudly — decoding a filtered chunk as
    if it were plain would return silently wrong values, the one failure
    mode worse than an error. Supported (chains of any length, decoded in
    reverse): numcodecs ``delta`` (diff-encode; monotone coordinates),
    ``fixedscaleoffset`` / ``quantize`` (lossy float packing — the two
    filters real ocean archives put on measurement variables),
    ``shuffle`` (byte transpose), ``astype`` and ``packbits``."""
    for f in meta.get("filters") or []:
        fid = (f or {}).get("id")
        if fid not in _V2_FILTERS:
            raise NotImplementedError(
                f"zarr v2 filter {fid!r} not supported (supported: "
                + ", ".join(sorted(_V2_FILTERS))
                + ")"
            )
    return meta


def _v2_filter_storage_dtype(f: dict, in_dt: np.dtype) -> np.dtype:
    """dtype of the byte stream AFTER filter ``f`` encodes an ``in_dt``
    array (numcodecs convention: cfg ``dtype`` is the input side, ``astype``
    the stored side; shuffle permutes bytes without retyping)."""
    fid = f["id"]
    if fid in ("delta", "fixedscaleoffset", "quantize"):
        return np.dtype(f.get("astype") or f.get("dtype") or in_dt)
    if fid == "astype":
        return np.dtype(f["encode_dtype"])
    if fid == "packbits":
        return np.dtype("u1")
    return in_dt  # shuffle


def _decode_v2_filters(buf: bytes, filters: list, out_dt: np.dtype) -> np.ndarray:
    """Reverse a numcodecs filter chain: chunk bytes were produced by
    filters[0] ∘ filters[1] ∘ … so decode walks the chain BACKWARD, each
    step reading the downstream filter's storage dtype and emitting its own
    input dtype. Semantics per filter are numcodecs' published ones:
    Delta = cumsum of stored diffs; FixedScaleOffset dec = enc/scale +
    offset; Quantize decode is a cast (the loss happened at encode);
    Shuffle = byte transpose of elementsize-wide items; AsType / PackBits
    are casts / bool bit-packing with a leading leftover-bit count byte."""
    dts = [np.dtype(out_dt)]
    for f in filters:
        dts.append(_v2_filter_storage_dtype(f, dts[-1]))
    for i in range(len(filters) - 1, -1, -1):
        f, in_dt, enc_dt = filters[i], dts[i], dts[i + 1]
        fid = f["id"]
        if fid == "delta":
            dec_dt = np.dtype(f.get("dtype") or in_dt)
            arr = np.frombuffer(buf, dtype=enc_dt).cumsum(dtype=dec_dt)
        elif fid == "fixedscaleoffset":
            enc = np.frombuffer(buf, dtype=enc_dt)
            arr = enc / float(f["scale"]) + float(f["offset"])
        elif fid in ("quantize", "astype"):
            arr = np.frombuffer(buf, dtype=enc_dt)
        elif fid == "packbits":
            enc = np.frombuffer(buf, dtype="u1")
            bits = np.unpackbits(enc[1:])
            if enc[0] > 0:
                bits = bits[: bits.size - 8 + int(enc[0])]
            arr = bits
        elif fid == "shuffle":
            es = int(f.get("elementsize") or in_dt.itemsize)
            b = np.frombuffer(buf, dtype="u1")
            if es > 1:
                if b.size % es:
                    raise ValueError(
                        f"shuffled zarr chunk of {b.size} bytes is not a "
                        f"multiple of elementsize {es}"
                    )
                b = b.reshape(es, -1).T
            buf = b.tobytes()
            continue
        else:  # unreachable: gated in _check_v2_filters
            raise NotImplementedError(f"zarr v2 filter {fid!r}")
        buf = np.ascontiguousarray(arr.astype(in_dt, copy=False)).tobytes()
    return np.frombuffer(buf, dtype=np.dtype(out_dt))


_CRC32C_POLY = 0x82F63B78
_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC32C_POLY if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) — the checksum zarr v3 shard indexes carry."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


_SHARD_MISSING = 0xFFFFFFFFFFFFFFFF


def _decode_shard(raw: bytes, meta: dict) -> np.ndarray:
    """One zarr v3 shard (sharding_indexed codec): inner chunks packed into
    a single object plus an offset/length index at the end (or start).
    Missing inner chunks read as the fill value. The index's crc32c is
    VERIFIED when declared — a torn shard fails loudly.

    Scale note: a shard is exactly an object-store-friendly chunk bundle;
    this decode still runs executor-side per outer-chunk task, so shards
    parallelize exactly like plain chunks (and a ranged-GET store could
    fetch the index and only the needed inner chunks)."""
    shard = meta["shard"]
    inner = [int(x) for x in shard["inner_chunks"]]
    outer = [int(x) for x in meta["chunks"]]
    grid = [-(-o // i) for o, i in zip(outer, inner)]
    n = int(np.prod(grid, dtype=np.int64))
    idx_size = n * 16 + (4 if shard["index_crc32c"] else 0)
    if len(raw) < idx_size:
        raise ValueError("zarr shard smaller than its index")
    blob = raw[-idx_size:] if shard["index_location"] == "end" else raw[:idx_size]
    if shard["index_crc32c"]:
        body, want = blob[:-4], int.from_bytes(blob[-4:], "little")
        if _crc32c(body) != want:
            raise ValueError("zarr shard index crc32c mismatch")
    else:
        body = blob
    entries = np.frombuffer(body, dtype="<u8").reshape(n, 2)
    dtype = np.dtype(meta["dtype"])
    out = np.full(outer, _missing_scalar(meta), dtype=dtype)
    inner_meta = {
        "compressor": shard["compressor"],
        "transpose": shard.get("transpose"),
        "checksum": shard.get("checksum", False),
        "dtype": meta["dtype"],
        "chunks": inner,
    }
    for flat, pos in enumerate(np.ndindex(*grid)):
        off, nb = int(entries[flat, 0]), int(entries[flat, 1])
        if off == _SHARD_MISSING:
            continue
        if off + nb > len(raw):
            raise ValueError("zarr shard inner chunk out of range")
        arr = _decode_buf(raw[off : off + nb], inner_meta)
        sel = tuple(
            slice(p * i, min((p + 1) * i, o)) for p, i, o in zip(pos, inner, outer)
        )
        clip = tuple(slice(0, s.stop - s.start) for s in sel)
        out[sel] = arr[clip]
    return out


def _buf_nbytes(meta: dict) -> int:
    """Byte size of a chunk's codec output: chunk shape × the widest dtype
    its filter chain stores (plus packbits' leading count byte). A codec
    header declaring more is corrupt and refused before any allocation."""
    dt = np.dtype(meta["dtype"])
    widest, extra = dt.itemsize, 0
    for f in meta.get("filters") or []:
        dt = _v2_filter_storage_dtype(f, dt)
        widest = max(widest, dt.itemsize)
        extra += f["id"] == "packbits"
    return int(np.prod(meta["chunks"], dtype=np.int64)) * widest + extra


def _decode_buf(raw: bytes, meta: dict) -> np.ndarray:
    if meta.get("checksum"):
        # v3 crc32c codec: stored chunk = payload + 4-byte LE CRC-32C
        if len(raw) < 4:
            raise ValueError("zarr chunk smaller than its crc32c")
        if _crc32c(raw[:-4]) != int.from_bytes(raw[-4:], "little"):
            raise ValueError("zarr chunk crc32c mismatch")
        raw = raw[:-4]
    comp = meta.get("compressor")
    if comp is None:
        buf = raw
    elif comp.get("id") in ("zlib", "gzip"):
        buf = zlib.decompress(raw, 47)  # wbits=47 accepts both zlib and gzip
    elif comp.get("id") == "blosc":
        # zarr-python's default codec (sources/blosc.py)
        buf = blosc_decompress(raw, max_output=_buf_nbytes(meta))
    elif comp.get("id") == "zstd":
        # numcodecs Zstd stores each chunk as one standard zstd frame
        buf = zstd_decompress(raw, max_output=_buf_nbytes(meta))
    elif comp.get("id") == "lz4":
        # numcodecs LZ4 chunk: 4-byte little-endian uncompressed size, then
        # one LZ4 block (the block decoder the blosc splits use)
        if len(raw) < 4:
            raise ValueError("lz4 zarr chunk shorter than its 4-byte size prefix")
        n = int.from_bytes(raw[:4], "little", signed=True)
        if not 0 <= n <= _buf_nbytes(meta):
            raise ValueError(
                f"lz4 zarr chunk declares {n} bytes, chunk holds {_buf_nbytes(meta)}"
            )
        buf = lz4_block_decompress(memoryview(raw)[4:], n)
    else:
        raise NotImplementedError(
            f"zarr compressor {comp.get('id')!r} needs a codec not present in "
            "this runtime (supported here: raw, zlib, gzip, zstd, lz4, "
            "blosc[lz4/zlib/zstd/snappy])"
        )
    filters = meta.get("filters") or []
    if filters:
        # numcodecs filter chain (gated at metadata load) reversed
        # last-to-first; see _decode_v2_filters for per-filter semantics
        arr = _decode_v2_filters(buf, filters, np.dtype(meta["dtype"]))
    else:
        arr = np.frombuffer(buf, dtype=np.dtype(meta["dtype"]))
    order = meta.get("transpose")
    if order:
        # stored layout is the chunk permuted by `order`; invert it
        perm_shape = [int(meta["chunks"][o]) for o in order]
        return arr.reshape(perm_shape).transpose(np.argsort(order))
    return arr.reshape(meta["chunks"])  # chunks are stored at full chunk shape


def _fill_scalar(meta: dict):
    """Normalize a .zarray/zarr.json fill_value to a numpy-usable scalar
    (the v2 spec JSON-encodes non-finite floats as "NaN"/"Infinity"/
    "-Infinity" strings, and bytes fills for ``|S`` dtypes as base64;
    absent means 0 / empty string)."""
    fill = meta.get("fill_value")
    kind = np.dtype(meta["dtype"]).kind
    if kind in "SU":
        if fill is None:
            return b"" if kind == "S" else ""
        if isinstance(fill, str) and kind == "S":
            import base64

            try:
                return base64.b64decode(fill)
            except Exception:
                return fill.encode()
        return fill
    if fill is None:
        return 0
    if isinstance(fill, (int, float)):
        return fill
    return float(str(fill).replace("Infinity", "inf"))


def _missing_scalar(meta: dict):
    """The scalar synthesized for a chunk that was NEVER STORED: the
    DECLARED fill_value, for every format and dtype. The zarr v3 spec makes
    fill_value "the value of uninitialised portions", so an elided chunk
    must read identically to a stored chunk full of the fill (zarr-python
    with write_empty_chunks=False elides exactly those chunks) — the scan
    keeps both as data, and NaN synthesis happens only when the declared
    fill is itself NaN. v2 also fills with the declared value; its
    fill->NULL missing-sentinel rewrite happens later in zarr_table, so
    stored and elided fill values again read identically."""
    return _fill_scalar(meta)


class _PrefetchedStore:
    """Overlay serving already-fetched blobs (get_many results) through the
    KeyValueStore.get contract: a prefetched None (missing key) raises
    KeyError exactly like the live store would; keys outside the prefetch
    fall through to it."""

    def __init__(self, blobs: dict, store):
        self.blobs = blobs
        self.store = store

    def get(self, key: str) -> bytes:
        if key in self.blobs:
            blob = self.blobs[key]
            if blob is None:
                raise KeyError(key)
            return blob
        return self.store.get(key)


def _decode_chunk(store, key: str, meta: dict) -> np.ndarray:
    """One store key -> its full outer-chunk array: a plain chunk through
    the codec chain, or a shard (v3 sharding_indexed) assembled from its
    inner chunks.

    A MISSING key is legal Zarr, not an error: zarr-python writes with
    write_empty_chunks=False by default, so all-fill chunks are simply
    never stored (and HttpStore maps a 404 to KeyError). Such a chunk —
    including a whole missing shard object — reads as fill_value, exactly
    as _decode_shard already treats a missing inner chunk."""
    try:
        raw = store.get(key)
    except (KeyError, FileNotFoundError):
        dtype = np.dtype(meta["dtype"])
        return np.full(
            [int(x) for x in meta["chunks"]], _missing_scalar(meta), dtype=dtype
        )
    if meta.get("shard"):
        return _decode_shard(raw, meta)
    return _decode_buf(raw, meta)


def _load_attrs(store, var: str) -> dict:
    """User attributes for ``var``: v2 ``.zattrs`` (consolidated-first, like
    array metadata), v3 the ``attributes`` key of zarr.json. Missing → {}.

    A consolidated store answers from the cached document with ZERO extra
    requests — including the "no attrs" answer, since .zmetadata enumerates
    every key the store has."""
    store = as_store(store)
    docs = _consolidated_docs(store)
    if docs["v2"] is not None:
        return docs["v2"].get(f"{var}/.zattrs") or {}
    doc = (docs["v3"] or {}).get(var)
    if doc is not None and doc.get("node_type") == "array":
        return doc.get("attributes") or {}
    raw = _try_get(store, f"{var}/.zattrs")
    if raw is not None:
        return json.loads(raw) or {}
    raw = _try_get(store, f"{var}/zarr.json")
    if raw is not None:
        return json.loads(raw).get("attributes") or {}
    return {}


def _cf_numeric(attrs: dict) -> dict:
    """The four CF packing/missing-data attributes as floats (JSON may
    string-encode non-finite values); non-numeric values are ignored rather
    than crashing the scan over a malformed attribute."""
    out: dict = {}
    for k in ("_FillValue", "missing_value", "scale_factor", "add_offset"):
        val = attrs.get(k)
        if isinstance(val, bool):
            continue
        if isinstance(val, (int, float)):
            out[k] = float(val)
        elif isinstance(val, str):
            try:
                out[k] = float(val.replace("Infinity", "inf"))
            except ValueError:
                pass
    return out


def time_row_range(root, time_var: str, lo, hi) -> tuple[int, int]:
    """[row_lo, row_hi) of the rows whose ``time_var`` value t satisfies
    ``lo <= t < hi``, assuming the coordinate is non-decreasing (the
    reference's time axis). Found with O(log n_chunks) DRIVER-side chunk
    decodes — two binary searches over chunk boundary values, then a
    searchsorted inside the two boundary chunks — so the pruning cost is
    metadata-scale no matter how long the series: this is partition
    pruning for a native store, the analogue of the parquet path's
    date-partition pruning (readers.load_table).

    A CF-packed time coordinate (scale_factor/add_offset in .zattrs) is
    handled by transforming the PHYSICAL bounds into packed space before
    bisecting — the chunks hold packed values, and comparing physical
    bounds against them would silently slice the wrong rows."""
    from rca_data_tools_spark.sources.timeslice import bisect_row_range

    store = as_store(root)
    m = _load_array_meta(store, time_var)
    if len(m["shape"]) != 1:
        raise ValueError(f"time variable {time_var!r} must be 1-D")
    cfa = _cf_numeric(_load_attrs(store, time_var))
    scale, offset = cfa.get("scale_factor"), cfa.get("add_offset")
    if scale is not None or offset is not None:
        s = 1.0 if scale is None else scale
        o = 0.0 if offset is None else offset
        if s < 0:
            # negative scale -> the packed sequence is DECREASING while the
            # physical axis is non-decreasing; bisect_row_range assumes a
            # non-decreasing sequence, so this would silently mis-slice
            raise NotImplementedError(
                f"time variable {time_var!r} has negative scale_factor {s}: "
                "the packed coordinate is decreasing and packed-space "
                "bisection would silently mis-slice; pass row_range instead"
            )
        lo, hi = (lo - o) / s, (hi - o) / s
    n_rows = m["shape"][0]
    c0 = m["chunks"][0]
    n_chunks = -(-n_rows // c0)
    cache: dict[int, np.ndarray] = {}

    def chunk(cid: int) -> np.ndarray:
        if cid not in cache:
            arr = _decode_chunk(store, f"{time_var}/{_chunk_key(m, (cid,))}", m)
            cache[cid] = arr[: min(c0, n_rows - cid * c0)]
        return cache[cid]

    return bisect_row_range(chunk, lambda cid: cid * c0, n_chunks, n_rows, lo, hi)


def _keeps_int(meta: dict, cfa: dict) -> bool:
    """True when a 1-D variable keeps its integer identity through the scan:
    integer storage dtype and NO CF numeric semantics (no scale/offset and
    no declared fill) — then the column is ``bigint`` and values are exact.
    Any fill/packing routes through float64 + NaN, the engine's NULL
    convention.

    v3 stores are exempt from the fill test: the v3 spec makes fill_value a
    REQUIRED field (it means "value of unwritten chunks", not "missing"), so
    its mere presence cannot demote an int64 column to lossy float64 —
    missing-data semantics in v3 ride on CF attributes, which cfa covers."""
    return (
        np.dtype(meta["dtype"]).kind in "iu"
        and not cfa
        and (meta.get("fill_value") is None or meta.get("zarr_format") == 3)
    )


def zarr_table(
    spark: SparkSession,
    root: str,
    variables: list[str],
    index_name: str = "idx",
    row_range: "tuple[int, int] | None" = None,
    time_var: "str | None" = None,
    time_range: "tuple | None" = None,
) -> DataFrame:
    """Scan Zarr variables sharing dim-0 (the time dimension) into one
    DataFrame: ``(idx, var1, var2, ...)`` with 2-D variables as array
    columns. ``idx`` is the global dim-0 position — join it to the store's
    time coordinate variable (itself scannable here) to recover timestamps.

    All variables must share the dim-0 chunk size (true for xarray-written
    stores, which chunk on the time dimension) so each task decodes the SAME
    chunk row-range of every variable — aligned output with zero shuffles.

    ``root`` may be a local directory, a dict of blobs, or any picklable
    KeyValueStore (sources/bytes_io.py) — an object-store implementation
    plugs in without touching the scan (one GET per chunk key, exactly the
    reference's fsspec-mapper access pattern).

    Pruning: pass ``row_range=(lo, hi)`` to scan only the dim-0 slice, or
    ``time_var`` + ``time_range=(t_lo, t_hi)`` to derive that slice from a
    non-decreasing time coordinate (time_row_range) — either way the plan
    contains ONLY the overlapping chunk tasks, so executors never fetch or
    decode chunks outside the slice (tested by corrupting out-of-slice
    chunks: the pruned scan must not touch them).
    """
    store = as_store(root)
    metas = {v: _load_array_meta(store, v) for v in variables}
    # CF packing/missing-data attributes (xarray writes them to .zattrs /
    # v3 attributes): applied per-variable after decode, like the NetCDF
    # scans (netcdf._apply_cf_packing)
    cf_attrs = {v: _cf_numeric(_load_attrs(store, v)) for v in variables}
    shapes = {v: m["shape"] for v, m in metas.items()}
    n_rows = shapes[variables[0]][0]
    chunk0 = metas[variables[0]]["chunks"][0]
    for v, m in metas.items():
        if m["shape"][0] != n_rows or m["chunks"][0] != chunk0:
            raise ValueError(
                f"variable {v!r} has dim-0 shape/chunking {m['shape'][0]}/"
                f"{m['chunks'][0]}, expected {n_rows}/{chunk0}: all scanned "
                "variables must share the time-dimension chunk grid"
            )
        if len(m["shape"]) > 2:
            raise ValueError(f"variable {v!r} is {len(m['shape'])}-D; supported: 1-D/2-D")
        if np.dtype(m["dtype"]).kind in "SU" and len(m["shape"]) == 2:
            raise ValueError(
                f"variable {v!r} is a 2-D string array; string variables "
                "are supported 1-D (one value per dim-0 row)"
            )
        if len(m["shape"]) == 2 and m["chunks"][1] < m["shape"][1]:
            raise ValueError(
                f"variable {v!r} chunks its second dimension; expected one "
                "chunk across it (the reference's wavelength/bin dims are small)"
            )
        if m.get("order", "C") != "C":
            raise ValueError(f"variable {v!r} is not C-order")

    if (time_var is None) != (time_range is None):
        # silently ignoring one half would return the FULL scan to a caller
        # who believes they received the slice
        raise ValueError("time_var and time_range must be passed together")
    if time_range is not None:
        if row_range is not None:
            raise ValueError("pass row_range OR time_var/time_range, not both")
        tm = _load_array_meta(store, time_var)
        if tm["shape"][0] != n_rows:
            raise ValueError(
                f"time variable {time_var!r} has {tm['shape'][0]} rows but the "
                f"scanned variables have {n_rows}: bounds from a different "
                "axis would silently slice the wrong rows"
            )
        row_range = time_row_range(store, time_var, *time_range)
    row_lo, row_hi = row_range if row_range is not None else (0, n_rows)
    row_lo, row_hi = max(0, row_lo), min(n_rows, row_hi)
    c_lo = row_lo // chunk0
    c_hi = -(-row_hi // chunk0) if row_hi > row_lo else c_lo
    chunk_index = spark.range(c_lo, c_hi).toDF("chunk_id")

    def _scan(batches):
        # Arrow-native decode (mapInArrow): chunk bytes -> numpy -> pyarrow
        # buffers, no pandas hop. pa.array over a numpy primitive array is
        # zero-copy; NaN -> SQL NULL (the engine's missing-data convention,
        # which the pandas path got implicitly) is an explicit vectorized
        # isnan mask here. VERDICT r07 item 9: this plus HttpStore
        # keep-alive took the sf1 native HTTP scan from ~2.4s to under 3x
        # the parquet scan of the same rows.
        import pyarrow as pa

        def _float_col(arr: np.ndarray) -> "pa.Array":
            return pa.array(arr, type=pa.float64(), from_pandas=False,
                            mask=np.isnan(arr))

        def _key(v: str, cid: int) -> str:
            m = metas[v]
            two_d = len(m["shape"]) == 2
            return f"{v}/{_chunk_key(m, (cid, 0) if two_d else (cid,))}"

        for rb in batches:
            cids = [int(c) for c in rb.column(0).to_pylist()]
            # one get_many per batch: remote stores overlap the K*V chunk
            # round trips (thread pool + keep-alive) instead of paying them
            # sequentially; local stores take the serial loop
            blobs = store.get_many([_key(v, cid) for cid in cids for v in variables])
            fetched = _PrefetchedStore(blobs, store)
            for cid in cids:
                lo = max(cid * chunk0, row_lo)
                hi = min(cid * chunk0 + chunk0, n_rows, row_hi)
                cols = [pa.array(np.arange(lo, hi, dtype=np.int64))]
                base = cid * chunk0
                for v in variables:
                    m = metas[v]
                    two_d = len(m["shape"]) == 2
                    arr = _decode_chunk(fetched, _key(v, cid), m)[lo - base : hi - base]
                    kind = np.dtype(m["dtype"]).kind
                    if kind in "SU":  # fixed-width strings -> string column
                        if kind == "S":
                            cols.append(pa.array(
                                [x.decode("utf-8", "replace").rstrip("\x00 ")
                                 for x in arr.tolist()], type=pa.string()))
                        else:
                            cols.append(pa.array(
                                [str(x).rstrip("\x00 ") for x in arr],
                                type=pa.string()))
                        continue
                    fill = m.get("fill_value")
                    if m.get("zarr_format") == 3:
                        # v3 fill_value is REQUIRED and means "value of
                        # unwritten chunks", NOT a missing sentinel — a v3
                        # store declaring fill 0.0 must not have its stored
                        # zeros nuked to NULL. Missing-data semantics in v3
                        # ride on CF attributes (handled below); only a NaN
                        # fill is already the engine's null convention.
                        fill = None
                    if fill is not None and np.issubdtype(arr.dtype, np.floating):
                        # Zarr v2 JSON-encodes non-finite fills as the strings
                        # "NaN"/"Infinity"/"-Infinity" (spec §fill-value); a
                        # raw string would make `arr == fill` silently no-op.
                        if isinstance(fill, str):
                            fill = float(fill.replace("Infinity", "inf"))
                        # fill values become NaN, which _float_col masks to
                        # SQL NULL — the engine-wide missing-data convention
                        # (P5 null-drop, W6 interpolate-NA). A NaN fill is
                        # already the sentinel; ±inf needs the rewrite.
                        if not np.isnan(fill):
                            arr = np.where(arr == fill, np.nan, arr)
                    if cf_attrs[v]:
                        from rca_data_tools_spark.sources.netcdf import (
                            _apply_cf_packing,
                        )

                        arr = _apply_cf_packing(
                            arr.astype(np.float64), cf_attrs[v]
                        )
                    if two_d:
                        k = m["shape"][1]
                        flat = np.ascontiguousarray(
                            arr[:, :k].astype(np.float64, copy=False)
                        ).ravel()
                        offsets = pa.array(
                            np.arange(0, (arr.shape[0] + 1) * k, k, dtype=np.int32)
                        )
                        cols.append(pa.ListArray.from_arrays(offsets, _float_col(flat)))
                    elif _keeps_int(m, cf_attrs[v]):
                        # integer data with no CF packing/missing semantics
                        # keeps its integer identity: epoch-ns timestamps and
                        # other int64 payloads are NOT representable in
                        # float64 above 2^53 (a silent ±hundreds-of-ns error
                        # the round-6 zarr-sink roundtrip caught)
                        cols.append(pa.array(arr.astype(np.int64, copy=False)))
                    else:
                        cols.append(
                            _float_col(arr.astype(np.float64, copy=False))
                        )
                yield pa.RecordBatch.from_arrays(
                    cols, names=[index_name, *variables]
                )

    def _zfield(v: str) -> str:
        if np.dtype(metas[v]["dtype"]).kind in "SU":
            return f"`{v}` string"
        if len(metas[v]["shape"]) == 1 and _keeps_int(metas[v], cf_attrs[v]):
            return f"`{v}` bigint"
        return (
            f"`{v}` array<double>" if len(metas[v]["shape"]) == 2 else f"`{v}` double"
        )

    fields = [f"{index_name} long"] + [_zfield(v) for v in variables]
    return chunk_index.mapInArrow(_scan, schema=", ".join(fields))


def zarr_to_parquet(
    spark: SparkSession,
    root: str,
    variables: list[str],
    out_path: str,
    time_var: str | None = None,
    epoch: str = "1970-01-01",
    time_unit: str = "s",
    time_range: "tuple | None" = None,
) -> DataFrame:
    """Ingest conversion: one distributed pass from a Zarr v2 store (any codec
    the scan supports) into the engine's canonical Parquet layout — after
    which every read is the vectorized parquet scan with pushdown/pruning,
    and chunk decode is paid exactly once. ``time_var`` (a numeric offset-from-epoch coordinate, the xarray
    convention) is rebuilt into a ``ts`` timestamp column so the output joins
    the rest of the engine's time machinery directly.

    Returns the re-read DataFrame (from Parquet, post-conversion).
    """
    from pyspark.sql import functions as F

    cols = list(variables)
    if time_var and time_var not in cols:
        cols.insert(0, time_var)
    if time_range is not None and not time_var:
        raise ValueError("time_range needs time_var")
    df = zarr_table(
        spark, root, cols,
        time_var=time_var if time_range is not None else None,
        time_range=time_range,
    )
    if time_var:
        unit_us = {"s": 1_000_000, "ms": 1_000, "us": 1}[time_unit]
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                (F.col(time_var) * F.lit(unit_us)).cast("long")
                + F.unix_micros(F.lit(epoch).cast("timestamp"))
            ),
        )
    df.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)
