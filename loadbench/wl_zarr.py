"""``zarr_ingest``: the native-format ingest path. Seeded Zarr v2 stores,
chunked the way xarray writes OOI streams and compressed with the codecs
real stores carry (blosc-lz4 with byte shuffle, and zstd), are served over
localhost HTTP and read through ``sources.bytes_io.HttpStore``.

Write op: ``sources.zarr.zarr_to_parquet`` of a whole store. Read op: a
time-sliced ``zarr_table(time_var=..., time_range=...)`` aggregated to
count/sum/max. The chunk bytes come from pyarrow's bundled lz4/zstd
encoders, so decode runs through the package's own blosc and zstd decoders.
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import numpy as np

from loadbench.harness import RequestCounter, dir_bytes, serve_directory

T0 = 1_700_000_000.0  # 2023-11-14, seconds since the epoch
STEP_S = 10.0
# store name -> (codec, rows, rows per chunk, variables besides time)
STORES = {
    "blosc": ("blosc", 400_000, 50_000, ("value", "pressure")),
    "zstd": ("zstd", 60_000, 15_000, ("value",)),
}
# The fixed op sequence: ingests alternate between the stores, and each
# ingest is followed by time-sliced reads of the store just ingested. A zstd
# slice decodes its chunks with the pure-Python zstd decoder and takes about
# twice as long as a blosc slice, so most reads go to the blosc store (the
# zarr-python default codec) and the read median lies inside the blosc group.
READS = {"blosc": 4, "zstd": 1}
WRITES = ("blosc", "zstd", "blosc", "zstd")
SLICE_FRACTION = 0.04
WARMUP = (("blosc", 2), ("zstd", 1), ("blosc", 2))  # (store, slice reads)


def _blosc_lz4(raw: bytes, typesize: int = 8, blocksize: int = 1 << 16) -> bytes:
    """A Blosc1 chunk: byte shuffle, then each block split into one LZ4
    block per byte plane (c-blosc's split rule for lz4), encoded by pyarrow's
    lz4_raw codec. Splits that do not shrink are stored verbatim."""
    import pyarrow as pa

    lz4 = pa.Codec("lz4_raw")
    nblocks = -(-len(raw) // blocksize)
    blocks = []
    for j in range(nblocks):
        blk = raw[j * blocksize : (j + 1) * blocksize]
        shuffled = np.frombuffer(blk, np.uint8).reshape(-1, typesize).T.tobytes()
        last_short = j == nblocks - 1 and len(blk) < blocksize
        nsplits = 1 if last_short or blocksize // typesize < 128 else typesize
        per = len(shuffled) // nsplits
        out = []
        for i in range(nsplits):
            part = shuffled[i * per : (i + 1) * per if i < nsplits - 1 else len(shuffled)]
            comp = lz4.compress(part, asbytes=True)
            if len(comp) >= len(part):
                comp = part
            out.append(struct.pack("<i", len(comp)) + comp)
        blocks.append(b"".join(out))
    pos = 16 + 4 * nblocks
    starts = []
    for b in blocks:
        starts.append(pos)
        pos += len(b)
    flags = 0x01 | (1 << 5)  # byte shuffle, lz4
    header = bytes([2, 1, flags, typesize]) + struct.pack("<iii", len(raw), blocksize, pos)
    return header + struct.pack(f"<{nblocks}i", *starts) + b"".join(blocks)


def _zstd(raw: bytes) -> bytes:
    import pyarrow as pa

    return pa.Codec("zstd", compression_level=3).compress(raw, asbytes=True)


class Workload:
    name = "zarr_ingest"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.root = os.path.join(work, "data", "zarr")
        self.out = os.path.join(work, "data", "ingested")
        self.seed = seed
        self.arrays: dict[str, dict[str, np.ndarray]] = {}
        self.results: list = []
        self.counter = RequestCounter()
        self.server = None
        self.n_ingest = 0

    # -- inputs ------------------------------------------------------------
    def prepare(self, passes: int = 1) -> None:
        rng = np.random.default_rng(self.seed)
        for store, (codec, n, chunk, variables) in STORES.items():
            arrays = {"time": T0 + np.arange(n) * STEP_S}
            for k, var in enumerate(variables):
                base = 10.0 + 5 * k + 2 * np.sin(np.arange(n) / rng.uniform(500, 2000))
                arrays[var] = np.round(base + rng.normal(0, 0.05, n), 4)
            self.arrays[store] = arrays
            meta = {".zgroup": {"zarr_format": 2}, ".zattrs": {}}
            comp = (
                {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}
                if codec == "blosc" else {"id": "zstd", "level": 3}
            )
            encode = _blosc_lz4 if codec == "blosc" else _zstd
            for var, arr in arrays.items():
                vdir = os.path.join(self.root, store, var)
                os.makedirs(vdir)
                meta[f"{var}/.zarray"] = {
                    "zarr_format": 2, "shape": [n], "chunks": [chunk], "dtype": "<f8",
                    "compressor": comp, "fill_value": "NaN", "order": "C", "filters": None,
                }
                meta[f"{var}/.zattrs"] = {}
                for cid in range(-(-n // chunk)):
                    with open(os.path.join(vdir, str(cid)), "wb") as fh:
                        fh.write(encode(arr[cid * chunk : (cid + 1) * chunk].astype("<f8").tobytes()))
            with open(os.path.join(self.root, store, ".zmetadata"), "w") as fh:
                json.dump({"zarr_consolidated_format": 1, "metadata": meta}, fh)
        self.server = serve_directory(self.root, self.counter)
        # the seeded read slices, one list per write
        self.slices = []
        for store in WRITES:
            n = STORES[store][1]
            width = int(n * SLICE_FRACTION)
            starts = rng.integers(0, n - width, READS[store])
            self.slices.append([(int(s), int(s) + width) for s in starts])

    def url(self, store: str) -> str:
        return f"{self.server.url}/{store}"

    # -- ops -----------------------------------------------------------------
    def _write(self, store: str) -> tuple[str, int]:
        from rca_data_tools_spark.sources.zarr import zarr_to_parquet

        out = os.path.join(self.out, f"{self.n_ingest:02d}-{store}")
        self.n_ingest += 1
        zarr_to_parquet(self.spark, self.url(store), list(STORES[store][3]), out, time_var="time")
        return out, STORES[store][1]

    def _read(self, store: str, lo: int, hi: int):
        from pyspark.sql import functions as F

        from rca_data_tools_spark.sources.zarr import zarr_table

        t = self.arrays[store]["time"]
        df = zarr_table(self.spark, self.url(store), ["time", "value"],
                        time_var="time", time_range=(float(t[lo]), float(t[hi])))
        return df.agg(F.count("*"), F.sum("value"), F.max("value")).collect()[0]

    def warmup(self) -> None:
        for store, reads in WARMUP:
            self._write(store)
            n = STORES[store][1]
            for k in range(reads):
                lo = k * n // reads
                self._read(store, lo, lo + int(n * SLICE_FRACTION))
        shutil.rmtree(self.out)  # the stored bytes count the measured ingests only

    def run(self, tr, ops) -> int:
        rows = 0
        self.read_requests: dict[str, int] = {}  # server requests made by read ops
        for store, slices in zip(WRITES, self.slices):
            with tr.span("sources.zarr", f"ingest/{store}"):
                got, ok = ops.run("write", lambda: self._write(store))
            if ok:
                self.results.append(("write", store, None, got[0], ops, len(ops.ops) - 1))
                rows += got[1]
            for lo, hi in slices:
                before = self.counter.snapshot()
                with tr.span("sources.zarr", f"slice/{store}"):
                    got, ok = ops.run("read", lambda: self._read(store, lo, hi))
                for key, n in self.counter.snapshot().items():
                    if n != before.get(key, 0):
                        self.read_requests[key] = self.read_requests.get(key, 0) + n - before.get(key, 0)
                if ok:
                    self.results.append(("read", store, (lo, hi), got, ops, len(ops.ops) - 1))
                    rows += got[0]
        return rows

    # -- correctness -----------------------------------------------------------
    def gate(self) -> bool:
        """Ingested parquet and every slice aggregate equal the generator's
        arrays: counts and maxima exactly, sums to 1e-6 relative."""
        import pyarrow.parquet as pq

        ok_all = True
        self.user_bytes = 0
        for kind, store, rng_, got, log, idx in self.results:
            arrays = self.arrays[store]
            if kind == "write":
                tab = pq.read_table(got)
                self.user_bytes += tab.nbytes
                good = tab.num_rows == len(arrays["time"])
                for var in STORES[store][3]:
                    col = tab.column(var).to_numpy()
                    good = good and _close(col.sum(), arrays[var].sum()) and col.max() == arrays[var].max()
            else:
                lo, hi = rng_
                want = arrays["value"][lo:hi]
                good = (got[0] == hi - lo and _close(got[1], want.sum())
                        and got[2] == want.max())
            if not good:
                ok_all = False
                log.mark_failed(idx)
        return ok_all

    def store_bytes(self) -> int:
        return dir_bytes(self.out)

    # -- traced extras -----------------------------------------------------------
    def traced_extras(self, tr) -> None:
        """Fetch every chunk of each store once through HttpStore, and decode
        the fetched bytes with the package's blosc and zstd decoders directly,
        so fetch and codec costs show apart from the scan that wraps them."""
        from rca_data_tools_spark.sources.blosc import blosc_decompress
        from rca_data_tools_spark.sources.bytes_io import HttpStore
        from rca_data_tools_spark.sources.zstd import zstd_decompress

        self.decode = {}
        for store, (codec, n, chunk, variables) in STORES.items():
            keys = [f"{v}/{c}" for v in ("time", *variables) for c in range(-(-n // chunk))]
            hs = HttpStore(self.url(store))
            with tr.span("sources.bytes_io", f"get_many/{store}"):
                blobs = hs.get_many(keys)
            fn = blosc_decompress if codec == "blosc" else zstd_decompress
            layer = "sources.blosc" if codec == "blosc" else "sources.zstd"
            with tr.span(layer, f"decode/{store}") as rec:
                out_bytes = sum(len(fn(b)) for b in blobs.values())
            self.decode[layer] = out_bytes / 1e6 / (rec["end"] - rec["start"])

    def layer_spark(self, groups) -> dict:
        return {}

    def layer_extras(self, tr, groups) -> dict:
        needed = 0
        for store, slices in zip(WRITES, self.slices):
            chunk = STORES[store][2]
            for lo, hi in slices:
                needed += 2 * ((hi - 1) // chunk - lo // chunk + 1)  # time + value
        reqs = self.read_requests
        got_all = sum(reqs.values())
        got_chunks = sum(v for k, v in reqs.items() if not k.rsplit("/", 1)[-1].startswith("."))
        return {
            "sources.zarr.chunks_decoded_per_chunk_needed": got_chunks / needed,
            "sources.bytes_io.gets_per_chunk": got_all / needed,
            "sources.blosc.decode_mb_per_s": self.decode.get("sources.blosc", 0.0),
            "sources.zstd.decode_mb_per_s": self.decode.get("sources.zstd", 0.0),
            "sources.sinks.files_written": 0,
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))
