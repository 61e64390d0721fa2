"""Workload benchmark for rca_data_tools_spark.

    python3 loadbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run starts a fresh Spark session sized
from the host, builds the workload's inputs from ``--seed``, warms up, runs
the workload's fixed op sequence as a closed loop with one client, checks
every output against an independent replay, and prints one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``--seconds`` is the nominal length of the measured phase;
every run executes the same op sequence (see loadbench/README.md).
"""

from __future__ import annotations

import argparse
import importlib
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "qaqc_fanout": "loadbench.wl_qaqc",
    "zarr_ingest": "loadbench.wl_zarr",
    "table_lifecycle": "loadbench.wl_table",
}


class _NoTrace:
    """Stand-in for the tracer on untraced passes: spans cost nothing."""

    class _Null:
        def __enter__(self):
            return None

        def __exit__(self, *exc):
            return False

    _null = _Null()

    def span(self, layer, name):
        return self._null


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and servers and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    from loadbench import harness, trace

    try:
        harness.check_package_root()
    except harness.BenchError as ex:
        print(f"loadbench: {ex}", file=sys.stderr)
        return 2
    module = importlib.import_module(WORKLOADS[args.workload])

    work = harness.make_workdir(args.workload, args.seed)
    spark = wl = None
    try:
        t_setup = time.perf_counter()
        spark = harness.start_session(work, event_log=bool(args.trace))
        harness.check_worker_imports(spark)
        start_s = time.perf_counter() - t_setup
        wl = module.Workload(spark, work, args.seed)
        wl.prepare(passes=3 if args.trace else 1)
        prepare_s = time.perf_counter() - t_setup - start_s
        t_warm = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        print(f"loadbench: start {start_s:.2f}s prepare {prepare_s:.2f}s "
              f"warmup {warmup_s:.2f}s", file=sys.stderr)

        ops = harness.OpLog()
        cpu0 = harness.tree_cpu()
        steal0 = harness.host_steal()
        t0 = time.perf_counter()
        rows = wl.run(_NoTrace(), ops)
        wall = time.perf_counter() - t0
        cpu_s = harness.cpu_delta(cpu0, harness.tree_cpu())
        peak_rss = harness.tree_peak_rss()

        if not args.trace:
            t_gate = time.perf_counter()
            correct = wl.gate() and ops.failed == 0
            steal1 = harness.host_steal()
            steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
            print(f"loadbench: measured {wall:.2f}s gate {time.perf_counter() - t_gate:.2f}s "
                  f"host steal {steal:.1%}", file=sys.stderr)
            metrics = harness.end_to_end(
                ops, rows, wall, cpu_s, peak_rss, setup_s,
                wl.store_bytes(), wl.user_bytes,
            )
            wl.close()
            harness.stop_session(spark)
            spark = None
            harness.emit(correct, ops, metrics)
            return 0

        # traced pass between two untraced ones: the overhead is measured
        # against their mean, so warm-up still under way cancels out
        tracer = trace.Tracer(spark)
        traced_ops = harness.OpLog()
        t1 = time.perf_counter()
        wl.run(tracer, traced_ops)
        traced_wall = time.perf_counter() - t1
        top = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
        t2 = time.perf_counter()
        wl.run(_NoTrace(), traced_ops)
        wall = (wall + time.perf_counter() - t2) / 2
        wl.traced_extras(tracer)
        correct = wl.gate() and ops.failed == 0 and traced_ops.failed == 0
        tracer.add("session", "start", start_s)
        tracer.add("session", "warmup", warmup_s)
        wl.close()
        harness.stop_session(spark)  # flushes the event log
        spark = None
        groups = trace.parse_event_log(os.path.join(work, "events"))
        layer_spark = trace.by_layer(groups)
        for layer, stats in wl.layer_spark(groups).items():
            trace.add_stats(layer_spark, layer, stats)
        extra = wl.layer_extras(tracer, groups)
        extra.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "trace.overhead_s": traced_wall - wall,
            "trace.traced_wall_s": traced_wall,
            "trace.untraced_wall_s": wall,
            "trace.unaccounted_s": traced_wall - top,
        })
        metrics = trace.layer_metrics(tracer, layer_spark, extra)
        ops.ops.extend(traced_ops.ops)
        harness.emit(correct, ops, metrics)
        return 0
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            try:
                if spark is not None:
                    harness.stop_session(spark)
            finally:
                harness.remove_workdir(work)


if __name__ == "__main__":
    sys.exit(main())
