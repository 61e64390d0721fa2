"""Shared machinery for the workload benchmark: the per-run work directory,
a Spark session sized from the host, process-tree CPU/RSS accounting,
localhost HTTP servers that count their own requests, and the result line.

Nothing here runs at import time; ``run.py`` drives it.
"""

from __future__ import annotations

import http.server
import json
import os
import shutil
import socketserver
import statistics
import subprocess
import sys
import threading
import time
import traceback
import urllib.parse

# The checkout root: the benchmark lives in <root>/loadbench.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "rca_data_tools_spark"
WORK_PARENT = os.path.join(ROOT, ".loadbench_work")


class BenchError(RuntimeError):
    """A set-up problem that makes the run meaningless (missing package,
    wrong import root): the run exits non-zero without a result line."""


# --------------------------------------------------------------------------
# work directory
# --------------------------------------------------------------------------

def make_workdir(workload: str, seed: int) -> str:
    """A fresh directory inside the checkout for everything one run writes:
    Spark local dirs, warehouse, event log, TMPDIR, table roots, stores."""
    path = os.path.join(WORK_PARENT, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "events", "data"):
        os.makedirs(os.path.join(path, sub))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    return path


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_PARENT)  # only when no other run is using it
    except OSError:
        pass


# --------------------------------------------------------------------------
# host sizing and session
# --------------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory() -> str:
    """A sixth of physical RAM, between 1 and 4 GiB: the JVM shares the
    host with the Python workers, the HTTP servers and DuckDB."""
    gib = host_ram_bytes() / (1 << 30)
    return f"{int(min(4, max(1, gib / 6)))}g"


def check_package_root() -> None:
    """The package must come from this checkout, not from site-packages."""
    import importlib.util

    spec = importlib.util.find_spec(PACKAGE)
    origin = os.path.realpath(spec.origin) if spec and spec.origin else ""
    if not origin.startswith(os.path.realpath(ROOT) + os.sep):
        raise BenchError(f"{PACKAGE} not importable from {ROOT} (found {origin or 'nothing'})")


def start_session(work: str, event_log: bool = False):
    """``session.get_spark`` with master and memory from the host instead of
    its 32-core defaults, and every directory inside the work dir. Python
    workers inherit PYTHONPATH, so they import the package from this
    checkout too (checked by ``check_worker_imports``)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p
    )
    from rca_data_tools_spark.session import get_spark

    cores = host_cores()
    tmp = os.path.join(work, "tmp")
    mem = driver_memory()
    conf = {
        "spark.driver.memory": mem,
        "spark.driver.extraJavaOptions": (
            # session.py's default code-cache options; the heap committed and
            # touched up front, as a service JVM is run, so the peak RSS does
            # not depend on when G1 chose to grow the heap; tmp in the work dir
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing "
            f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.TMPDIR": tmp,
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name="loadbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def check_worker_imports(spark) -> None:
    """Run one task and confirm its Python worker imported the package from
    this checkout."""

    def _origin(_):
        import rca_data_tools_spark

        yield os.path.realpath(rca_data_tools_spark.__file__)

    sc = spark.sparkContext
    origins = set(sc.parallelize([0], 1).mapPartitions(_origin).collect())
    for o in origins:
        if not o.startswith(os.path.realpath(ROOT) + os.sep):
            raise BenchError(f"worker imported {PACKAGE} from {o}, not {ROOT}")


def stop_session(spark) -> None:
    """Stop Spark, then end the py4j gateway's JVM (a child of this process)
    and wait for it, also when the JVM is already unreachable."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = _tree(_proc_stats(), os.getpid()) - {os.getpid()}
    try:
        spark.stop()
    except Exception:  # teardown goes on: a gateway cut mid-call answers garbage
        traceback.print_exc()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    children |= _tree(_proc_stats(), os.getpid()) - {os.getpid()}
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    # the JVM's Python workers outlive it briefly; wait until they are gone
    deadline = time.monotonic() + 10
    while any(os.path.exists(f"/proc/{pid}") for pid in children):
        if time.monotonic() > deadline:
            print(f"loadbench: workers still running: {sorted(children)}", file=sys.stderr)
            break
        time.sleep(0.05)


# --------------------------------------------------------------------------
# process tree accounting (driver + JVM + Python workers)
# --------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stats() -> "dict[int, tuple[int, float, int]]":
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        # fields[0] is state (stat field 3); utime..cstime are fields 14-17
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _CLK
        rss = int(fields[21]) * _PAGE
        out[int(name)] = (ppid, cpu, rss)
    return out


def _tree(stats: dict, root: int) -> "set[int]":
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        todo.extend(kids.get(p, ()))
    return seen


def host_steal() -> "tuple[int, int]":
    """(steal, total) jiffies of the host from /proc/stat: the CPU a
    hypervisor gave to other guests, a diagnostic for noisy runs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def tree_cpu() -> "dict[int, float]":
    """CPU seconds of this process and all its descendants (the JVM and the
    Python workers it forks), by pid."""
    stats = _proc_stats()
    return {p: stats[p][1] for p in _tree(stats, os.getpid()) if p in stats}


def cpu_delta(before: dict, after: dict) -> float:
    """CPU spent between two ``tree_cpu`` snapshots. A process that exits in
    between is charged through its parent's reaped-children time."""
    return sum(after[p] - before.get(p, 0.0) for p in after)


def tree_peak_rss() -> int:
    """Sum of the kernel's per-process RSS high-water marks (VmHWM) over the
    live process tree: the memory a container must allow if every process
    peaks at once."""
    total = 0
    for pid in _tree(_proc_stats(), os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


# --------------------------------------------------------------------------
# HTTP servers that count their own requests
# --------------------------------------------------------------------------

class RequestCounter:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.by_key: dict[str, int] = {}

    def add(self, key: str) -> None:
        with self._lock:
            self.by_key[key] = self.by_key.get(key, 0) + 1

    def total(self) -> int:
        with self._lock:
            return sum(self.by_key.values())

    def snapshot(self) -> "dict[str, int]":
        with self._lock:
            return dict(self.by_key)


class _ThreadingServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class ServerThread:
    """Runs a socketserver on a thread; ``close`` shuts it down and joins."""

    def __init__(self, server) -> None:
        self.server = server
        self.url = f"http://127.0.0.1:{server.server_address[1]}"
        self._thread = threading.Thread(
            target=lambda: server.serve_forever(poll_interval=0.02), daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=5)


def serve_directory(root: str, counter: RequestCounter) -> ServerThread:
    """Keep-alive static file server over ``root`` (the object-store shape a
    Zarr store is read through); every request is counted by key."""

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def log_message(self, *a):
            pass

        def _serve(self, body: bool) -> None:
            key = urllib.parse.unquote(urllib.parse.urlparse(self.path).path.lstrip("/"))
            counter.add(key)
            path = os.path.join(root, key)
            if not os.path.isfile(path):
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            with open(path, "rb") as fh:
                data = fh.read()
            self.send_response(200)
            self.send_header("Content-Type", "application/octet-stream")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            if body:
                self.wfile.write(data)

        def do_GET(self):
            self._serve(True)

        def do_HEAD(self):
            self._serve(False)

    return ServerThread(_ThreadingServer(("127.0.0.1", 0), Handler))


def counting_kv_server(root: str, counter: RequestCounter):
    """The package's ``LocalKVServer`` with its handler wrapped so every
    request (claim, marker, pointer, listing, blob) is counted by method.
    Returns the entered server; leave it with ``__exit__``."""
    from rca_data_tools_spark.sources.kv_http import LocalKVServer

    srv = LocalKVServer(root)
    base = srv._srv.RequestHandlerClass

    class Counted(base):
        def parse_request(self):
            ok = super().parse_request()
            if ok:
                counter.add(self.command)
            return ok

    srv._srv.RequestHandlerClass = Counted
    return srv.__enter__()


def dir_bytes(path: str) -> int:
    """Distinct on-disk bytes under ``path``: hardlinked files count once."""
    seen, total = set(), 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if (st.st_dev, st.st_ino) in seen:
                continue
            seen.add((st.st_dev, st.st_ino))
            total += st.st_size
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _d, _s, files in os.walk(path) for f in files if f.endswith(suffix)
    )


# --------------------------------------------------------------------------
# op log and result
# --------------------------------------------------------------------------

class OpLog:
    """Closed-loop op log: each op's kind, latency and outcome. A failed op
    is recorded, never dropped."""

    def __init__(self) -> None:
        self.ops: list[tuple[str, float, bool]] = []

    def run(self, kind: str, fn):
        t0 = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception as ex:  # a failed op counts against ok_op_ratio
            out, ok = ex, False
        self.ops.append((kind, time.perf_counter() - t0, ok))
        return out, ok

    def mark_failed(self, idx: int) -> None:
        """An op whose output missed its correctness gate counts as failed."""
        kind, t, _ok = self.ops[idx]
        self.ops[idx] = (kind, t, False)

    def latencies(self, kind: str) -> "list[float]":
        return [t for k, t, _ok in self.ops if k == kind]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for _k, _t, ok in self.ops if not ok)


def end_to_end(
    ops: OpLog,
    rows: int,
    wall_s: float,
    cpu_s: float,
    peak_rss: int,
    setup_s: float,
    store_bytes: int,
    user_bytes: int,
) -> dict:
    def m(v, unit):
        return {"value": v, "unit": unit}

    return {
        "setup_s": m(setup_s, "s"),
        "rows_per_s": m(rows / wall_s, "1/s"),
        "write_p50_s": m(statistics.median(ops.latencies("write")), "s"),
        "read_p50_s": m(statistics.median(ops.latencies("read")), "s"),
        "ok_op_ratio": m((ops.attempted - ops.failed) / ops.attempted, "ratio"),
        "peak_rss_mb": m(peak_rss / 1e6, "MB"),
        "cpu_s_per_krow": m(cpu_s / (rows / 1000.0), "s"),
        "store_bytes_per_user_byte": m(store_bytes / user_bytes, "ratio"),
    }


def emit(correct: bool, ops: OpLog, metrics: dict) -> None:
    """Per-op latencies to stderr (diagnostics), the result line to stdout."""
    for kind in sorted({k for k, _t, _ok in ops.ops}):
        lat = " ".join(f"{t:.3f}" for t in ops.latencies(kind))
        print(f"loadbench: {kind} latencies: {lat}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
