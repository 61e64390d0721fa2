"""``qaqc_fanout``: the reference's main entry point, one QA/QC job per
(site, span) through ``pipeline.run_qaqc_job(out_dir=...)`` (a write), each
followed by reading that job's output partition back through
``sources.readers.load_table`` (a read: the dashboard's view).

Input: per site, one instrument table of three parameter series sampled
every 5 minutes for the 60 days since the instrument's deployment, in the date-partitioned layout
(``<site>/date=YYYY-MM-DD/*.parquet``), with seeded values, out-of-range
spikes and gaps (NULLs).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

from loadbench import replay
from loadbench.harness import count_files, dir_bytes

SITES = ("RS01SBPS-PC01A", "RS03AXPS-SF03A")
SPANS = ("day", "week", "month", "year")
# The fixed op sequence, in order. Day windows refresh most often, so short
# jobs (day, week) are two thirds of the writes and the write median lies
# inside the short-job group; month and year form the tail.
JOBS = (
    (SITES[0], "day"), (SITES[0], "week"), (SITES[0], "year"),
    (SITES[1], "day"), (SITES[1], "month"), (SITES[1], "day"),
)
PARAMS = 3
STEP_S = 5 * 60
DAYS = 60
WINDOW_END = "2024-01-01 00:00:00"
THRESHOLD = 300
WARMUP_JOBS = 3
READS_PER_JOB = 2  # dashboard views of each refreshed partition
PREFIX_REPEATS = 1  # one run of each prefix keeps the traced run well inside 180 s
# the layers a job's cumulative prefixes add, in order (traced run)
CHAIN_LAYERS = ("sources.readers", "operators.flagging", "operators.decimate", "sources.sinks")


def _spec(site: str, span: str):
    from rca_data_tools_spark.pipeline import QAQCJobSpec

    return QAQCJobSpec(
        site=site, span=span, table=site, key_col="param", ts_col="ts",
        value_col="value", window_end=WINDOW_END, threshold=THRESHOLD,
    )


class Workload:
    name = "qaqc_fanout"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.data = os.path.join(work, "data", "series")
        self.out = os.path.join(work, "data", "qaqc_out")
        self.scratch_out = os.path.join(work, "data", "prefix_out")
        self.seed = seed
        self.reads: dict[tuple[str, str], list] = {}
        self.window_rows: dict[tuple[str, str], int] = {}

    # -- inputs ------------------------------------------------------------
    def prepare(self, passes: int = 1) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        end = dt.datetime.fromisoformat(WINDOW_END)
        start = np.datetime64(end - dt.timedelta(days=DAYS), "us")
        n = DAYS * 86400 // STEP_S
        ts = start + np.arange(n) * np.timedelta64(STEP_S, "s")
        dates = ts.astype("datetime64[D]").astype(str)
        # gross-range spans per parameter: suspect inside fail
        self.dim_rows = []
        for p in range(PARAMS):
            mid = float(rng.uniform(50, 250))
            self.dim_rows.append((p, mid - 220.0, mid + 220.0, mid - 150.0, mid + 150.0))
        for site in SITES:
            parts = []
            for p in range(PARAMS):
                mid = self.dim_rows[p][1] + 220.0
                v = mid + 100 * np.sin(np.arange(n) / rng.uniform(300, 900) + p)
                v += rng.normal(0, 15, n)
                spikes = rng.random(n) < 0.01
                v[spikes] += rng.choice([-320.0, 320.0], int(spikes.sum()))
                gaps = rng.random(n) < 0.005
                parts.append(pa.table({
                    "param": pa.array(np.full(n, p, np.int64)),
                    "ts": pa.array(ts),
                    "value": pa.array(v, mask=gaps),
                    "date": pa.array(dates),
                }))
            pq.write_to_dataset(
                pa.concat_tables(parts), os.path.join(self.data, site),
                partition_cols=["date"],
            )
        self.dim = self.spark.createDataFrame(
            self.dim_rows,
            "param long, fail_lo double, fail_hi double, sus_lo double, sus_hi double",
        )
        from rca_data_tools_spark.pipeline import span_window

        for site in SITES:
            for span in SPANS:
                lo, hi = span_window(_spec(site, span))
                lo64, hi64 = np.datetime64(lo), np.datetime64(hi)
                self.window_rows[(site, span)] = PARAMS * int(
                    ((ts >= lo64) & (ts < hi64)).sum()
                )

    # -- ops -----------------------------------------------------------------
    def _write(self, site: str, span: str) -> int:
        from rca_data_tools_spark.pipeline import run_qaqc_job

        run_qaqc_job(self.spark, self.data, _spec(site, span), self.dim, out_dir=self.out)
        return self.window_rows[(site, span)]

    def _read(self, site: str, span: str) -> list:
        from rca_data_tools_spark.sources.readers import load_table

        return load_table(self.spark, self.out, f"site={site}/span={span}").collect()

    def warmup(self) -> None:
        """JIT/codegen warm-up: the first ``WARMUP_JOBS`` jobs of the
        sequence (a day, a week and a year job), each with its read-back."""
        for site, span in JOBS[:WARMUP_JOBS]:
            self._write(site, span)
            self._read(site, span)

    def run(self, tr, ops) -> int:
        """The fixed op sequence. Returns the input rows it consumed."""
        rows = 0
        for site, span in JOBS:
            with tr.span("pipeline", f"{site}/{span}"):
                n, ok = ops.run("write", lambda: self._write(site, span))
            rows += n if ok else 0
            for _ in range(READS_PER_JOB):
                with tr.span("sources.readers", "read_back"):
                    got, ok = ops.run("read", lambda: self._read(site, span))
                if ok:
                    self.reads.setdefault((site, span), []).append((ops, len(ops.ops) - 1, got))
                    rows += len(got)
        return rows

    # -- correctness -----------------------------------------------------------
    def _replay(self, con, site: str, span: str) -> list:
        """Window, flags, rollup and LTTB of one job, replayed in DuckDB."""
        from rca_data_tools_spark.pipeline import span_window

        lo, hi = span_window(_spec(site, span))
        src = (
            "SELECT param AS user_id, ts, value FROM read_parquet("
            f"'{self.data}/{site}/*/*.parquet', hive_partitioning = false) "
            f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"
        )
        if span == "week" and not replay.check_against_shared_oracle(con, src):
            return []
        kept = replay.lttb_rows(con, src, THRESHOLD)
        out = []
        for p, ts, v in kept:
            _, fail_lo, fail_hi, sus_lo, sus_hi = self.dim_rows[p]
            if v is None:
                flag = 9
            elif v < fail_lo or v > fail_hi:
                flag = 4
            elif v < sus_lo or v > sus_hi:
                flag = 3
            else:
                flag = 1
            out.append((p, ts, v, flag, max(1, flag)))
        return sorted(out, key=replay.row_key)

    def gate(self) -> bool:
        """Each read-back equals a DuckDB replay of window and LTTB with the
        gross-range flags and rollup recomputed in Python; each output
        partition on disk equals the same replay."""
        import duckdb
        import pyarrow.parquet as pq

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        cols = ["param", "ts", "value", "gross_range_flag", "rollup_flag"]
        ok_all = True
        self.user_bytes = 0
        for (site, span), reads in self.reads.items():
            want = self._replay(con, site, span)
            part = pq.read_table(
                os.path.join(self.out, f"site={site}", f"span={span}"), columns=cols
            )
            self.user_bytes += part.nbytes
            on_disk = sorted(zip(*[part.column(c).to_pylist() for c in cols]), key=replay.row_key)
            if on_disk != want:
                ok_all = False
            for log, idx, got in reads:
                rows = sorted((tuple(r[c] for c in cols) for r in got), key=replay.row_key)
                if rows != want:
                    ok_all = False
                    log.mark_failed(idx)
        con.close()
        if len(self.reads) != len(set(JOBS)):
            ok_all = False
        return ok_all

    def store_bytes(self) -> int:
        return dir_bytes(self.out)

    # -- traced extras -----------------------------------------------------------
    def traced_extras(self, tr) -> None:
        """Cumulative prefixes of the first job of each span kind against
        Spark's noop sink: load_table, +gross_range_flags/rollup_flags,
        +lttb, +write_partitioned (the fastest of ``PREFIX_REPEATS`` runs
        each). Each layer's cost is one difference; it is attached to every
        traced job of that span kind as a synthetic child of its pipeline
        span."""
        from pyspark.sql import functions as F

        from rca_data_tools_spark.functions.qc import rollup_flags
        from rca_data_tools_spark.operators.decimate import lttb
        from rca_data_tools_spark.operators.flagging import gross_range_flags
        from rca_data_tools_spark.pipeline import span_window
        from rca_data_tools_spark.sources.readers import load_table
        from rca_data_tools_spark.sources.sinks import write_partitioned

        def chain(spec, upto: int):
            lo, hi = span_window(spec)
            df = load_table(self.spark, self.data, spec.table,
                            time_filters={"ts": (lo, hi)}, partition_time_col="ts")
            df = df.select("param", "ts", "value")
            if upto >= 2:
                df = gross_range_flags(df, self.dim, value_col="value", join_keys=["param"])
                df = df.withColumn("rollup_flag", rollup_flags(F.col("gross_range_flag")))
            if upto >= 3:
                df = lttb(df, key_cols=["param"], ts_col="ts", value_col="value",
                          threshold=THRESHOLD)
            return df.withColumn("site", F.lit(spec.site)).withColumn("span", F.lit(spec.span))

        prefix_s: dict[str, list[float]] = {}
        for span in SPANS:
            spec = _spec(*_first(span))
            best = [float("inf")] * 4
            for rep in range(PREFIX_REPEATS):
                for k in range(1, 5):
                    with tr.span("prefix", f"{span}/p{k}/r{rep}") as rec:
                        df = chain(spec, min(k, 3))
                        if k < 4:
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            write_partitioned(df, self.scratch_out, ["site", "span"])
                    best[k - 1] = min(best[k - 1], rec["end"] - rec["start"])
            prefix_s[span] = [best[0]] + [best[i] - best[i - 1] for i in range(1, 4)]
        for s in list(tr.spans):
            if s["layer"] == "pipeline" and not s.get("synthetic"):
                span = s["name"].split("/")[1]
                for layer, secs in zip(CHAIN_LAYERS, prefix_s[span]):
                    tr.add(layer, f"{span}/share", secs, parent=s["id"])

    def layer_spark(self, groups) -> dict:
        """Job-group stats of each layer inside the jobs, as differences of
        consecutive prefix groups, charged once per traced job of that span
        kind."""
        from loadbench.trace import add_stats, diff_stats

        empty = {"jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                 "records_read": 0, "exec_crit_s": 0.0}
        out: dict[str, dict] = {}
        for span in SPANS:
            prev = empty
            for k, layer in enumerate(CHAIN_LAYERS, start=1):
                reps = [groups.get(f"prefix|{span}/p{k}/r{r}", empty) for r in range(PREFIX_REPEATS)]
                cur = {key: sum(g[key] for g in reps) / PREFIX_REPEATS for key in empty}
                add_stats(out, layer, diff_stats(cur, prev), scale=_count(span))
                prev = cur
        return out

    def close(self) -> None:
        pass

    def layer_extras(self, tr, groups) -> dict:
        jobs = sum(a["jobs"] for g, a in groups.items() if g.startswith("pipeline|"))
        n_jobs = sum(1 for s in tr.spans if s["layer"] == "pipeline" and not s.get("synthetic"))
        read = [a for g, a in groups.items() if g.startswith("prefix|") and g.endswith("/p1/r0")]
        records = sum(a["records_read"] for a in read)
        window = sum(self.window_rows[_first(span)] for span in SPANS)
        lttb_in = sum(self.window_rows[k] for k in self.reads)
        out_rows = sum(len(r[-1][-1]) for r in self.reads.values())
        return {
            "pipeline.spark_jobs_per_op": jobs / n_jobs,
            "sources.readers.rows_read_per_window_row": records / window,
            "operators.decimate.rows_out_per_row_in": out_rows / lttb_in,
            "sources.sinks.files_written": count_files(self.out),
            "sources.sinks.mb_written": dir_bytes(self.out) / 1e6,
        }


def _first(span: str) -> "tuple[str, str]":
    return next(job for job in JOBS if job[1] == span)


def _count(span: str) -> int:
    return sum(1 for _site, sp in JOBS if sp == span)
