"""``warehouse``: the reference's batch SQL, a TPC-H join, the dbt
incremental DAG and the corpus operators, run as catalog queries over a
2x sfgen copy of the sf0.01 test tables. Closed loop, one client: each query is built, run into a
``noop`` sink and released before the next one starts.

The first pass after set-up collects every result and compares it with
the cached DuckDB oracle digest; it also records an in-engine checksum
(row count and a sum of row hashes) that every timed pass must
reproduce, so timed outputs are verified without leaving the engine.
"""

from __future__ import annotations

import os
import random
import time

import data
import probe
from harness import Context, Result, cores

# Ordered as a user would run them; each pass shuffles this list by seed.
QUERIES = [
    "wt_windowed_distribution",  # windows (batch_stream.sql)
    "wt_stream_batch_compare",  # compare (comparision.sql)
    "tpch_q5",  # six-way join
    "incremental_daily_rollup",  # plans: incremental materialization
    "dedup_ngram_jaccard",  # dedup: persisted shingle self-join
    "ann_ivf_topk",  # ivf: Arrow Python workers, index built on first use
]
# Queries whose builder materializes parquet through plans.Project.
PLANS_QUERIES = {"incremental_daily_rollup"}
FACTOR = 2
MIN_PASSES = 2
# Per-layer metrics of layers this workload never enters (reported as 0).
IDLE_LAYERS = [
    "streaming.batches", "streaming.useful_batch_frac",
    "streaming.rows_per_batch_p50", "streaming.trigger_ms_p50",
    "streaming.add_batch_ms_p50", "streaming.query_planning_ms_p50",
    "streaming.wal_commit_ms_p50", "streaming.latest_offset_ms_p50",
    "streaming.state_rows_max", "streaming.state_bytes_max",
    "streaming.state_commit_ms_p50", "streaming.rows_dropped_by_watermark",
    "streaming.backlog_files_max", "streaming.drain_events_per_s",
    "sinks.foreach_batch_s_p50", "sinks.page_views_distribution.s_p50",
    "sinks.session_categories.s_p50", "sinks.engagement_scores.s_p50",
    "sinks.hourly_patterns.s_p50", "sinks.correlation.s_p50",
    "sinks.jobs_per_batch", "sinks.output_files", "gen.lag_s_max",
]


def _checksum_cols(df):
    from pyspark.sql import functions as F

    h = F.xxhash64(*[df[c] for c in df.columns])
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("hsum"),
    )


def _observed(df):
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *_checksum_cols(df)), obs


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class Warehouse:
    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.factor = 1 if ctx.small else FACTOR
        self.storage_max = 0

    def load_inputs(self, spark) -> None:
        from dbt_project_spark.sources.registry import TABLES, load_table

        with self.ctx.tracer.span("sources.load"):
            for t in TABLES:
                load_table(spark, self.data_dir, t)

    def run_query(self, spark, name: str, collect: bool):
        """Build, run and release one catalog query; returns
        (seconds, checksum, collected rows or None)."""
        from dbt_project_spark.caching import release_tracked
        from dbt_project_spark.catalog import QUERIES as CATALOG

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("query", query=name):
            with tr.span("catalog.build", query=name):
                df = CATALOG[name](spark, self.data_dir)
            out, obs = _observed(df)
            with tr.span("catalog.run", query=name):
                if collect:
                    rows = out.collect()
                else:
                    out.write.format("noop").mode("overwrite").save()
                    rows = None
                got = obs.get
            if tr.enabled:
                self.storage_max = max(self.storage_max, _storage_bytes(spark))
            with tr.span("caching.release", query=name):
                release_tracked()
        chk = (got["rows"], got["hsum"])
        return time.perf_counter() - t0, chk, (rows, df.columns) if collect else None

    def verify_pass(self, spark, res: Result) -> dict:
        """The warm-up pass: every query collected and checked against
        its oracle digest; returns the checksum each must reproduce."""
        expected = {}
        for name in QUERIES:
            res.attempted += 1
            try:
                _, chk, (rows, cols) = self.run_query(spark, name, collect=True)
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                res.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            want = self.digests[name]
            if len(rows) != want["rows"] or data.digest(
                [tuple(r) for r in rows], cols
            ) != want["digest"]:
                res.fail(f"{name}: result differs from the oracle")
            expected[name] = chk
        return expected

    def timed(self, spark, res: Result, expected: dict, host: probe.HostWindow,
              seconds: float, rng_tag: str) -> dict[str, list[float]]:
        """Passes over the query list, each in a seeded order, until
        ``seconds`` have elapsed (the pass in progress is finished) and
        at least ``MIN_PASSES`` are done."""
        samples: dict[str, list[float]] = {n: [] for n in QUERIES}
        deadline = time.perf_counter() + seconds
        p = 0
        while time.perf_counter() < deadline or p < MIN_PASSES:
            order = list(QUERIES)
            random.Random(f"{self.ctx.seed}-{rng_tag}-{p}").shuffle(order)
            with host.interval(), self.ctx.tracer.span("pass", tag=rng_tag, index=p):
                for name in order:
                    res.attempted += 1
                    try:
                        dt, chk, _ = self.run_query(spark, name, collect=False)
                    except Exception as e:  # noqa: BLE001
                        res.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                        continue
                    if chk != expected.get(name):
                        res.fail(f"{name}: checksum {chk} != {expected.get(name)}")
                    samples[name].append(dt)
            p += 1
        return samples

    def segment(self, spark, res: Result, host, tag: str):
        """Warm-up (the verification pass), then the timed passes.
        Returns (warm-up seconds, per-query samples)."""
        t0 = time.perf_counter()
        expected = self.verify_pass(spark, res)
        warmup_s = time.perf_counter() - t0
        self.storage_max = 0
        return warmup_s, self.timed(spark, res, expected, host, self.ctx.seconds, tag)

    def run(self) -> Result:
        ctx, res = self.ctx, Result()
        host = probe.HostWindow()
        from dbt_project_spark.catalog import load_all

        load_all()
        root = os.path.join(ctx.cache, "data")
        self.data_dir, key = data.prepare(root, self.factor, ctx)
        self.digests = data.oracle_digests(
            self.data_dir, QUERIES, os.path.join(root, f"oracle-x{self.factor}-{key}.json")
        )
        spark, setup_s, start_s, _ = ctx.setups(self.load_inputs)
        if not ctx.trace:
            warmup_s, samples = self.segment(spark, res, host, "e2e")
            per_query = [probe.median(v) for v in samples.values()]
            job_s = sum(per_query)
            res.e2e.update(
                setup_s=probe.median(setup_s) + warmup_s,
                job_s=job_s,
                latency_p50_s=probe.median(per_query),
                latency_tail_s=max(per_query),
            )
            res.notes.append(
                "per-query seconds: "
                + ", ".join(f"{q} {[round(x, 3) for x in v]}" for q, v in samples.items())
            )
            runs = sum(len(v) for v in samples.values())
            res.notes.append(
                f"samples: {runs} query runs over {len(QUERIES)} queries; latency "
                "p50 and tail are the median and the largest per-query median; "
                f"setups {[round(s, 3) for s in setup_s]} + warm-up {warmup_s:.2f}s"
            )
        else:
            spark.stop()
            spark = ctx.start_spark(event_log=True)
            self.traced(spark, res, host)
            res.layers.update(
                {
                    "session.start_s": probe.median(start_s),
                    "sfgen.datagen_s": data.build_seconds(self.data_dir),
                    "sources.input_rows": data.dir_rows(self.data_dir),
                    "sources.input_bytes": data.dir_bytes(self.data_dir),
                    "host.steal_pct_max": max(host.steal_pct),
                    "host.load_max": max(host.load),
                }
            )
        spark.stop()
        res.notes.append(host.note())
        return res

    def traced(self, spark, res: Result, host) -> None:
        """A segment with the Spark event log on: the per-layer numbers."""
        ctx, tr = self.ctx, self.ctx.tracer
        t_seg = time.time()
        _, samples = self.segment(spark, res, host, "trace")
        t0 = min(s["start"] for s in tr.spans if s["name"] == "pass" and s["start"] >= t_seg
                 and s.get("tag") == "trace")
        t1 = time.time()
        passes = sum(len(v) for v in samples.values()) / len(QUERIES)
        spark.stop()
        events = probe.read_event_log(ctx.event_log)
        spark_m = probe.spark_layer(events, t0, t1, cores())
        per_pass = {
            k: (v / passes if k not in ("spark.task_skew", "executor.util") else v)
            for k, v in spark_m.items()
        }
        res.layers.update(per_pass)

        def med_sum(span: str) -> float:
            return sum(
                probe.median([
                    s["end"] - s["start"] for s in tr.spans
                    if s["name"] == span and s.get("query") == q and s["start"] >= t0
                ])
                for q in QUERIES
            )

        plans_files, plans_bytes = probe.written_between(events, [
            (s["start"], s["end"]) for s in tr.spans
            if s["name"] == "query" and s.get("query") in PLANS_QUERIES
            and s["start"] >= t0
        ])
        res.layers.update(
            {
                "catalog.build_s": med_sum("catalog.build"),
                "catalog.run_s": med_sum("catalog.run"),
                "caching.release_s": med_sum("caching.release"),
                "caching.storage_bytes_max": self.storage_max,
                "plans.output_bytes": plans_bytes / passes,
                "plans.output_files": plans_files / passes,
                "trace.overhead_frac": ctx.overhead_frac(
                    sum(probe.median(v) for v in samples.values()), res
                ),
            }
        )
        for q, v in samples.items():
            res.layers[f"q.{q}.s"] = probe.median(v)


def run(ctx: Context) -> Result:
    return Warehouse(ctx).run()
