"""Spans around calls into the package's layers, Spark job groups per span,
and the event-log parse that attributes jobs, tasks, executor time and
shuffle/spill bytes to those layers.

Only the traced run (``--trace 1``) creates a ``Tracer``; untraced runs call
the layers directly, so the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# The package's layers, by module name. Every traced run reports the same
# generic metrics for each of them (zeros where a workload never calls one).
LAYERS = (
    "session",
    "pipeline",
    "sources.readers",
    "operators.flagging",
    "operators.decimate",
    "sources.sinks",
    "sources.kv_table",
    "sources.zarr",
    "sources.blosc",
    "sources.zstd",
    "sources.bytes_io",
)
GENERIC = ("calls", "wall_s", "self_s", "driver_s", "spark_jobs", "task_s", "shuffle_mb", "spill_mb")
# Layer-specific metrics, reported by every workload (0 where it does not
# exercise the layer): name -> unit.
EXTRAS = {
    "pipeline.spark_jobs_per_op": "count",
    "sources.readers.rows_read_per_window_row": "ratio",
    "operators.decimate.rows_out_per_row_in": "ratio",
    "sources.sinks.files_written": "count",
    "sources.sinks.mb_written": "MB",
    "sources.sinks.spark_jobs_per_merge": "count",
    "sources.sinks.files_rewritten_per_candidate": "ratio",
    "sources.kv_table.requests_per_commit": "count",
    "sources.kv_table.store_mb_delta": "MB",
    "sources.zarr.chunks_decoded_per_chunk_needed": "ratio",
    "sources.bytes_io.gets_per_chunk": "ratio",
    "sources.blosc.decode_mb_per_s": "MB/s",
    "sources.zstd.decode_mb_per_s": "MB/s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_s": "s",
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.unaccounted_s": "s",
}


class Tracer:
    """In-memory spans (name, layer, start, end, parent). Entering a span
    tags the Spark jobs it starts with a job group ``<layer>|<name>``; the
    enclosing span's group is restored on exit."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{layer}|{name}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup("untraced|none", "none")
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(f"{p['layer']}|{p['name']}", p["name"])

    def add(self, layer: str, name: str, seconds: float, parent: "int | None" = None) -> None:
        """A span whose duration was measured elsewhere (a prefix
        difference): counted as self time of ``layer``."""
        now = time.perf_counter()
        self.spans.append({"id": len(self.spans), "layer": layer, "name": name,
                           "parent": parent, "start": now - seconds, "end": now,
                           "synthetic": True})

    def layer_times(self) -> "dict[str, dict[str, float]]":
        """calls / wall_s / self_s per layer. A span's self time is its
        duration minus the part its direct children cover; wall_s counts
        only spans not nested in a span of the same layer."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {l: {"calls": 0, "wall_s": 0.0, "self_s": 0.0} for l in LAYERS}
        for s in self.spans:
            agg = out.setdefault(s["layer"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], ()))
            agg["calls"] += 1
            agg["self_s"] += dur - covered
            parent = self.spans[s["parent"]] if s["parent"] is not None else None
            if parent is None or parent["layer"] != s["layer"]:
                agg["wall_s"] += dur
        return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def _union_length(intervals: "list[tuple[float, float]]") -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _event_file_order(path: str):
    parts = os.path.basename(path).split("_")
    return (os.path.dirname(path), int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0)


def parse_event_log(events_dir: str) -> "dict[str, dict]":
    """Job group -> {jobs, task_s, exec_crit_s, shuffle_mb, spill_mb,
    records_read} from Spark's JSON event log. ``exec_crit_s`` is the union
    of the group's task intervals: the executor time on the critical path."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    intervals: dict[str, list] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {"jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0,
                                        "spill_mb": 0.0, "records_read": 0})

    # Spark 4 writes one directory per application with numbered event files
    paths = [p for p in glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True)
             if os.path.isfile(p)]
    paths += [p for p in glob.glob(os.path.join(events_dir, "*")) if os.path.isfile(p)]
    for path in sorted(paths, key=_event_file_order):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id") or "untraced|none"
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"), "untraced|none")
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    agg = g(grp)
                    agg["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    agg["shuffle_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    ) / 1e6
                    agg["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    agg["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    if info.get("Launch Time") and info.get("Finish Time"):
                        intervals.setdefault(grp, []).append(
                            (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
                        )
    for grp, agg in groups.items():
        agg["exec_crit_s"] = _union_length(intervals.get(grp, []))
    return groups


def by_layer(groups: "dict[str, dict]") -> "dict[str, dict]":
    """Sum job-group stats over the groups of each layer."""
    out: dict[str, dict] = {}
    for grp, agg in groups.items():
        add_stats(out, grp.split("|", 1)[0], agg)
    return out


def add_stats(acc: "dict[str, dict]", layer: str, stats: dict, scale: float = 1.0) -> None:
    cur = acc.setdefault(layer, {k: 0 for k in stats})
    for k, v in stats.items():
        cur[k] = cur.get(k, 0) + v * scale


def diff_stats(hi: dict, lo: dict) -> dict:
    return {k: hi.get(k, 0) - lo.get(k, 0) for k in hi}


def layer_metrics(tracer: Tracer, spark: "dict[str, dict]", extra: dict) -> dict:
    """Every generic metric of every layer (``spark``: layer -> job-group
    stats) plus every layer-specific metric (``extra``: name -> value;
    missing ones are 0)."""
    times = tracer.layer_times()
    out = {}
    for layer in LAYERS:
        t = times.get(layer, {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
        s = spark.get(layer, {})
        crit = s.get("exec_crit_s", 0.0)
        vals = {
            "calls": (t["calls"], "count"),
            "wall_s": (t["wall_s"], "s"),
            "self_s": (t["self_s"], "s"),
            "driver_s": (max(0.0, t["wall_s"] - crit), "s"),
            "spark_jobs": (s.get("jobs", 0), "count"),
            "task_s": (s.get("task_s", 0.0), "s"),
            "shuffle_mb": (s.get("shuffle_mb", 0.0), "MB"),
            "spill_mb": (s.get("spill_mb", 0.0), "MB"),
        }
        for k in GENERIC:
            v, unit = vals[k]
            out[f"{layer}.{k}"] = {"value": v, "unit": unit}
    for name, unit in EXTRAS.items():
        out[name] = {"value": extra.get(name, 0), "unit": unit}
    return out
