"""``table_lifecycle``: a versioned QC-results table under a seeded stream of
statements, on both table planes.

``sources.sinks.create_table`` builds the table range-clustered on its zone
key. Writes are ``merge_into_table`` upserts (reprocessed rows plus late
rows) and ``delete_into_table`` deletes of bad windows; reads are the
latest version and time-travel reads through ``read_version``. Every
statement runs on the local-FS chain and again on
``sources.kv_table.KVTable`` over ``HttpKVCommitStore`` against a
``LocalKVServer`` whose requests the benchmark counts.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np

from loadbench.harness import RequestCounter, counting_kv_server, dir_bytes

SCHEMA = "obs_id long, ts timestamp, value double, qc_flag int"
KEYS = ["obs_id"]
ROWS = 10_000
FILES = 8
T0 = dt.datetime(2024, 1, 1)
STEP_S = 60
# the statement stream: (kind, size) with size = rows touched
STREAM = (
    ("merge", 200), ("merge", 200), ("delete", 150),
    ("merge", 200), ("delete", 150), ("merge", 200),
)
WARMUP_STREAM = (
    ("merge", 200), ("delete", 150), ("merge", 200), ("merge", 200), ("delete", 150),
)
LATE_SHARE = 0.25  # share of a merge batch that is new (late) rows


def _rows(ids: np.ndarray, rng, version: int) -> dict:
    """Column arrays for observation ids: timestamp from the id, a seeded
    value, and a QC flag; ``version`` shifts values so reprocessed rows differ."""
    ts = np.datetime64(T0, "us") + ids.astype("int64") * np.timedelta64(STEP_S, "s")
    value = np.round(rng.normal(20.0 + version, 3.0, len(ids)), 4)
    flag = rng.choice(np.array([1, 1, 1, 1, 3, 4, 9], dtype=np.int32), len(ids))
    return {"obs_id": ids.astype(np.int64), "ts": ts, "value": value, "qc_flag": flag}


class _Plane:
    """One table plane's statements: the local-FS chain or the KV store."""

    def __init__(self, spark, name: str, root: str, kv=None) -> None:
        self.spark, self.name, self.root, self.kv = spark, name, root, kv

    def create(self, df) -> None:
        from rca_data_tools_spark.sources.sinks import create_table

        if self.kv is None:
            create_table(df, self.root, zone_key="obs_id", n_files=FILES)
        else:
            self.kv.create(df, zone_key="obs_id", n_files=FILES)

    def merge(self, src) -> dict:
        from rca_data_tools_spark.sources.sinks import merge_into_table

        if self.kv is None:
            return merge_into_table(self.spark, self.root, src, KEYS, SCHEMA, zone_key="obs_id")
        return self.kv.merge(self.spark, src, KEYS, SCHEMA, zone_key="obs_id")

    def delete(self, pred: str) -> dict:
        from rca_data_tools_spark.sources.sinks import delete_into_table

        if self.kv is None:
            return delete_into_table(self.spark, self.root, pred, SCHEMA)
        return self.kv.delete_where(self.spark, pred, SCHEMA)

    def read(self, version: "int | None"):
        from rca_data_tools_spark.sources.sinks import read_version

        if self.kv is None:
            return read_version(self.spark, self.root, SCHEMA, n=version).toArrow()
        return self.kv.read(self.spark, SCHEMA, ver=version).toArrow()


class Workload:
    name = "table_lifecycle"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = os.path.join(work, "data")
        self.seed = seed
        self.counter = RequestCounter()
        self.servers: list = []
        self.results: list = []

    def _planes(self, tag: str) -> "list[_Plane]":
        from rca_data_tools_spark.sources.kv_http import HttpKVCommitStore
        from rca_data_tools_spark.sources.kv_table import KVTable

        srv = counting_kv_server(os.path.join(self.work, f"{tag}-kvstore"), self.counter)
        self.servers.append(srv)
        kv = KVTable(HttpKVCommitStore(srv.url), os.path.join(self.work, f"{tag}-kvcache"))
        return [
            _Plane(self.spark, "local", os.path.join(self.work, f"{tag}-table")),
            _Plane(self.spark, "kv", os.path.join(self.work, f"{tag}-kvstore"), kv),
        ]

    # -- inputs ------------------------------------------------------------
    def _statements(self, rng, stream) -> list:
        """Seeded statements and the replayed table state after each."""
        import pyarrow as pa

        state = {}
        base = _rows(np.arange(ROWS), rng, 0)
        for i in range(ROWS):
            state[i] = tuple(base[c][i] for c in ("ts", "value", "qc_flag"))
        next_id = ROWS
        out = []
        # each statement hits a different data file, well inside its key
        # range, so every seed rewrites and deletes the same number of files
        span = ROWS // FILES
        files = rng.permutation(FILES)
        for k, (kind, size) in enumerate(stream, start=1):
            lo = int(files[k - 1]) * span + int(rng.integers(span // 4, span - span // 4 - size))
            if kind == "merge":
                n_late = int(size * LATE_SHARE)
                ids = np.concatenate([
                    np.arange(lo, lo + size - n_late),
                    np.arange(next_id, next_id + n_late),
                ])
                next_id += n_late
                cols = _rows(ids, rng, k)
                for j, i in enumerate(ids.tolist()):
                    state[i] = (cols["ts"][j], cols["value"][j], cols["qc_flag"][j])
                out.append(("merge", pa.table(cols), dict(state)))
            else:
                for i in range(lo, lo + size):
                    state.pop(i, None)
                out.append(("delete", f"obs_id >= {lo} AND obs_id < {lo + size}", dict(state)))
        return pa.table(base), out

    def prepare(self, passes: int = 1) -> None:
        """Seeded statements, and a fresh pair of tables for each pass."""
        rng = np.random.default_rng(self.seed)
        self.base, self.stream = self._statements(rng, STREAM)
        self.warm_base, self.warm_stream = self._statements(rng, WARMUP_STREAM)
        df = self.spark.createDataFrame(self.base.to_pandas(), SCHEMA)
        self.fresh = []
        for k in range(passes):
            planes = self._planes(f"pass{k}")
            for plane in planes:
                plane.create(df)
            self.fresh.append(planes)
        self.passes_run = 0

    def _apply(self, plane: _Plane, stmt) -> dict:
        kind, arg, _state = stmt
        if kind == "merge":
            return plane.merge(self.spark.createDataFrame(arg.to_pandas(), SCHEMA))
        return plane.delete(arg)

    def warmup(self) -> None:
        """The warm-up stream on tables of its own, so the measured stream
        starts from the same fresh table in every run."""
        planes = self._planes("warmup")
        df = self.spark.createDataFrame(self.warm_base.to_pandas(), SCHEMA)
        for plane in planes:
            plane.create(df)
        for stmt in self.warm_stream:
            for plane in planes:
                self._apply(plane, stmt)
                plane.read(None)
        for plane in planes:
            plane.read(1)
        self.servers.pop().__exit__(None, None, None)
        for tag in ("warmup-table", "warmup-kvstore", "warmup-kvcache"):
            shutil.rmtree(os.path.join(self.work, tag), ignore_errors=True)

    # -- ops -----------------------------------------------------------------
    def run(self, tr, ops) -> int:
        """Each statement on both planes, each followed by a read of the new
        latest version; then a time-travel read of every version."""
        rows = 0
        self.planes = self.fresh[self.passes_run]
        self.kv_root = self.planes[1].root
        pass_no = self.passes_run
        self.passes_run += 1
        self.merge_stats: list[dict] = []
        self.kv_requests = 0
        self.kv_commits = 0
        kv_bytes0 = dir_bytes(self.kv_root)
        local_files0 = _inodes(self.planes[0].root)
        for stmt in self.stream:
            kind = stmt[0]
            for plane in self.planes:
                layer = "sources.sinks" if plane.kv is None else "sources.kv_table"
                before = self.counter.total()
                with tr.span(layer, kind):
                    stats, ok = ops.run("write", lambda: self._apply(plane, stmt))
                if plane.kv is not None:
                    self.kv_requests += self.counter.total() - before
                    self.kv_commits += 1
                if ok:
                    rows += stmt[1].num_rows if kind == "merge" else 0
                    if kind == "merge" and plane.kv is None:
                        self.merge_stats.append(stats)
                with tr.span(layer, "read_latest"):
                    got, ok = ops.run("read", lambda: plane.read(None))
                if ok:
                    self.results.append(((pass_no, plane.name), None, got, ops, len(ops.ops) - 1))
                    rows += got.num_rows
        for version in range(1, len(self.stream) + 1):
            for plane in self.planes:
                layer = "sources.sinks" if plane.kv is None else "sources.kv_table"
                with tr.span(layer, "read_version"):
                    got, ok = ops.run("read", lambda: plane.read(version))
                if ok:
                    self.results.append(((pass_no, plane.name), version, got, ops, len(ops.ops) - 1))
                    rows += got.num_rows
        self.kv_mb_delta = (dir_bytes(self.kv_root) - kv_bytes0) / 1e6
        new = _inodes(self.planes[0].root) - local_files0
        self.local_files_written = len(new)
        self.local_mb_written = sum(size for _ino, size in new) / 1e6
        return rows

    # -- correctness -----------------------------------------------------------
    def _expected(self, version: "int | None"):
        import pyarrow as pa

        state = self.stream[-1 if version is None else version - 1][2]
        ids = sorted(state)
        ts, value, flag = zip(*(state[i] for i in ids))
        return pa.table({
            "obs_id": pa.array(ids, pa.int64()),
            "ts": pa.array(np.array(ts, dtype="datetime64[us]")),
            "value": pa.array(value, pa.float64()),
            "qc_flag": pa.array(flag, pa.int32()),
        })

    def gate(self) -> bool:
        """Every latest and time-travel read equals the Python replay of the
        statement stream, on both planes. Reads of the latest version after
        statement k are checked against the replay after statement k."""
        ok_all = True
        latest_seen: dict[tuple, int] = {}
        expected: dict = {}
        for plane, version, got, log, idx in self.results:
            if version is None:
                k = latest_seen.get(plane, 0) + 1
                latest_seen[plane] = k
            else:
                k = version
            if k not in expected:
                expected[k] = self._expected(k)
            want = expected[k]
            got = got.select(want.column_names).sort_by("obs_id")
            got = got.cast(want.schema)
            if not got.equals(want):
                ok_all = False
                log.mark_failed(idx)
        final = self._expected(None)
        self.user_bytes = 2 * final.nbytes
        return ok_all

    def store_bytes(self) -> int:
        return dir_bytes(self.planes[0].root) + dir_bytes(self.kv_root)

    # -- traced extras -----------------------------------------------------------
    def traced_extras(self, tr) -> None:
        pass

    def layer_spark(self, groups) -> dict:
        return {}

    def layer_extras(self, tr, groups) -> dict:
        merges = [a for g, a in groups.items() if g == "sources.sinks|merge"]
        n_merges = sum(1 for kind, _s in STREAM if kind == "merge")
        cand = sum(s.get("files_candidates", 0) for s in self.merge_stats)
        rewritten = sum(s.get("files_rewritten", 0) for s in self.merge_stats)
        return {
            "sources.sinks.spark_jobs_per_merge": sum(a["jobs"] for a in merges) / n_merges,
            "sources.sinks.files_rewritten_per_candidate": rewritten / cand if cand else 0.0,
            "sources.sinks.files_written": self.local_files_written,
            "sources.sinks.mb_written": self.local_mb_written,
            "sources.kv_table.requests_per_commit": self.kv_requests / self.kv_commits,
            "sources.kv_table.store_mb_delta": self.kv_mb_delta,
        }

    def close(self) -> None:
        while self.servers:
            self.servers.pop().__exit__(None, None, None)


def _inodes(root: str) -> "set[tuple[int, int]]":
    """(inode, size) of every parquet file under ``root``."""
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out.add((st.st_ino, st.st_size))
    return out
