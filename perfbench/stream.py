"""``stream``: the reference's Kafka path with file streams for topics.

A seeded generator writes three topic directories (``pageviews``,
``sessionduration``, ``timeonpage``) whose records share ``record_id``
and ``ts``, as the reference producer does. A seeded share of records
has one half land one or two file sets late, and a seeded share has
``ts`` out of order; both stay inside the 1-minute watermark. Three
file streams feed ``streaming.pipeline.join_metric_streams``; a
benchmark-owned ``foreachBatch`` runs ``micro_batch_analytics`` and
appends its five outputs as parquet sinks, as the reference job does.

Phases, each started as soon as the micro-batches reading the one
before have written their sinks: a warm-up file set (the first
micro-batch), then an open loop writing one file set every ``PERIOD_S``
seconds for the timed window, then, in traced runs, a closed-loop burst
of ``BURST_SETS`` larger file sets written at once. The burst feeds only
the per-layer drain rate; leaving it out of untraced runs keeps the
whole set of runs inside the time budget.
Late halves stay inside their own phase. Event latency runs from the
moment the last of a record's three files was due until the
micro-batch that joined it finished writing its sinks (open-loop
records only); the file-to-batch mapping comes from the checkpoint's
file-source and offset logs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time

import probe
import warehouse
from harness import Context, Result, cores

TOPICS = {
    "pageviews": "page_views",
    "sessionduration": "session_duration",
    "timeonpage": "time_on_page",
}
SINKS = (
    "page_views_distribution",
    "session_categories",
    "engagement_scores",
    "hourly_patterns",
    "correlation",
)
PERIOD_S = 0.25
RECORDS_PER_SET = 60  # paced: 240 records/s
BURST_SETS = 8
BURST_RECORDS_PER_SET = 500
# the latency tail is the highest percentile with this many paced file
# sets beyond it
TAIL_SETS = 10
LATE_SHARE = 0.05  # one half lands 1-2 file sets late
OOO_SHARE = 0.10  # ts moved back by up to OOO_MAX_S
OOO_MAX_S = 20
EVENT_STEP_S = 10  # event time advanced per file set
EVENT_T0 = dt.datetime(2024, 2, 1)

IDLE_LAYERS = [
    "sfgen.datagen_s", "catalog.build_s", "catalog.run_s",
    "caching.release_s", "caching.storage_bytes_max",
    "plans.output_bytes", "plans.output_files",
    *(f"q.{q}.s" for q in warehouse.QUERIES),
]


def _schema(metric: str):
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    kind = IntegerType() if metric == "page_views" else DoubleType()
    return StructType(
        [
            StructField("record_id", LongType()),
            StructField("timestamp", StringType()),
            StructField(metric, kind),
        ]
    )


def topic_frames(spark, in_dir: str, streaming: bool):
    """The three topic readers (file stream or batch) with parsed ``ts``."""
    from pyspark.sql import functions as F

    out = []
    for topic, metric in TOPICS.items():
        reader = spark.readStream if streaming else spark.read
        df = reader.schema(_schema(metric)).json(os.path.join(in_dir, topic))
        out.append(
            df.withColumn("ts", F.to_timestamp("timestamp")).drop("timestamp")
        )
    return out


class Plan:
    """The seeded input: which records go into which file set.

    Set 0 is the warm-up, sets 1..n_paced the open loop, the rest the
    burst. A late half moves to a later set, clamped to the last set of
    its phase."""

    def __init__(self, seed: int, tag: str, n_paced: int, per_set: int,
                 n_burst: int, burst_per_set: int) -> None:
        rng = random.Random(f"{seed}-{tag}")
        self.n_paced = n_paced
        self.n_sets = 1 + n_paced + n_burst
        self.sets: list[dict[str, list[str]]] = [
            {t: [] for t in TOPICS} for _ in range(self.n_sets)
        ]
        self.record_sets: list[tuple[int, ...]] = []  # per record: set per topic
        rid = 0
        for k in range(self.n_sets):
            phase_end = 0 if k == 0 else n_paced if k <= n_paced else self.n_sets - 1
            for _ in range(per_set if k <= n_paced else burst_per_set):
                ts = EVENT_T0 + dt.timedelta(
                    seconds=k * EVENT_STEP_S + rng.randrange(EVENT_STEP_S)
                )
                if rng.random() < OOO_SHARE:
                    ts -= dt.timedelta(seconds=rng.randint(1, OOO_MAX_S))
                stamp = ts.strftime("%Y-%m-%d %H:%M:%S")
                values = {
                    "page_views": rng.randint(1, 10),
                    "session_duration": round(rng.uniform(10.0, 600.0), 2),
                    "time_on_page": round(rng.uniform(5.0, 300.0), 2),
                }
                where = {t: k for t in TOPICS}
                if rng.random() < LATE_SHARE:
                    late = rng.choice(list(TOPICS))
                    where[late] = min(phase_end, k + rng.randint(1, 2))
                for topic, metric in TOPICS.items():
                    self.sets[where[topic]][topic].append(
                        json.dumps(
                            {"record_id": rid, "timestamp": stamp, metric: values[metric]}
                        )
                    )
                self.record_sets.append(tuple(where[t] for t in TOPICS))
                rid += 1
        self.n_records = rid

    def write(self, in_dir: str, ks: list[int]) -> int:
        """Write file sets ``ks`` (one file per topic each); returns bytes.
        Every file is written under a hidden name first and all are then
        renamed in one tight loop, so the three sources' listings see the
        sets whole as far as possible."""
        n, moves = 0, []
        for k in ks:
            for topic, lines in self.sets[k].items():
                body = "\n".join(lines) + "\n"
                tmp = os.path.join(in_dir, topic, f".set-{k:05d}.json.tmp")
                with open(tmp, "w") as fh:
                    fh.write(body)
                moves.append((tmp, os.path.join(in_dir, topic, f"set-{k:05d}.json")))
                n += len(body)
        for tmp, final in moves:
            os.replace(tmp, final)
        return n


def consumed_by(checkpoint: str) -> dict[int, int]:
    """File set -> the micro-batch that read its last topic file, for
    the sets whose three topic files are all planned into a batch.

    A file-source log entry carries the source's own log offset; the
    query's offset log says which micro-batch first reached it."""
    def entries(d: str):
        if not os.path.isdir(d):  # the query has not planned a batch yet
            return
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as fh:
                yield name, [json.loads(x) for x in fh if x.startswith("{")]

    ends = sorted(  # (micro-batch, per-source end offset)
        (int(name), [e["logOffset"] for e in lines[1:]])
        for name, lines in entries(os.path.join(checkpoint, "offsets"))
    )
    out: dict[int, int] = {}
    seen: dict[int, set[int]] = {}  # file set -> sources that planned it
    src_root = os.path.join(checkpoint, "sources")
    for src in os.listdir(src_root) if os.path.isdir(src_root) else ():
        i = int(src)
        for _, lines in entries(os.path.join(src_root, src)):
            for e in lines:
                batch = next((b for b, offs in ends if offs[i] >= e["batchId"]), None)
                if batch is None:  # listed by the source, no batch planned yet
                    continue
                k = int(os.path.basename(e["path"])[4:9])
                out[k] = max(out.get(k, -1), batch)
                seen.setdefault(k, set()).add(i)
    return {k: b for k, b in out.items() if len(seen[k]) == len(TOPICS)}


class Segment:
    """One streaming query from a fresh checkpoint to verified sinks."""

    def __init__(self, ctx: Context, spark, tag: str, seconds: float,
                 burst: bool) -> None:
        self.ctx, self.spark, self.tag = ctx, spark, tag
        base = os.path.join(ctx.work, f"stream-{tag}")
        self.in_dir = os.path.join(base, "in")
        self.out_dir = os.path.join(base, "out")
        self.checkpoint = os.path.join(base, "checkpoint")
        for t in TOPICS:
            os.makedirs(os.path.join(self.in_dir, t), exist_ok=True)
        per_set = 20 if ctx.small else RECORDS_PER_SET
        burst_records = 50 if ctx.small else BURST_RECORDS_PER_SET
        # an odd number of equal paced sets keeps the median record
        # inside one set instead of on the boundary between two
        n_paced = max(1, int(seconds / PERIOD_S))
        self.plan = Plan(ctx.seed, tag, n_paced - (n_paced % 2 == 0), per_set,
                         BURST_SETS if burst else 0, burst_records)
        self.due: dict[int, float] = {}
        self.written: dict[int, float] = {}
        self.bytes = 0
        self.ends: dict[int, float] = {}  # micro-batch -> sinks written
        self.sunk: set[int] = set()  # micro-batches with joined rows
        self.errors: list[str] = []

    def process_batch(self, batch_df, epoch_id: int) -> None:
        """The benchmark's foreachBatch: the reference's per-batch fan-out."""
        from dbt_project_spark.streaming.pipeline import micro_batch_analytics

        tr = self.ctx.tracer
        try:
            with tr.span("sinks.foreach_batch", epoch=epoch_id):
                if not batch_df.isEmpty():
                    self.sunk.add(epoch_id)
                    for name, out in micro_batch_analytics(batch_df).items():
                        with tr.span("sinks.write", sink=name):
                            out.write.mode("append").parquet(
                                os.path.join(self.out_dir, name)
                            )
        except Exception as e:  # noqa: BLE001 - counted, then re-raised
            self.errors.append(f"batch {epoch_id}: {type(e).__name__}: {e}"[:300])
            raise
        self.ends[epoch_id] = time.time()

    def _write(self, ks: list[int], due: float) -> None:
        self.bytes += self.plan.write(self.in_dir, ks)
        now = time.time()
        for k in ks:
            self.due[k], self.written[k] = due, now

    def _paced(self, t0: float) -> None:
        for k in range(1, 1 + self.plan.n_paced):
            due = t0 + (k - 1) * PERIOD_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self._write([k], due)

    def _await_all_written(self, q, ks: list[int]) -> None:
        """Until every file of the sets ``ks`` is planned into a
        micro-batch and the last of those batches has written its sinks
        and reported its progress (not waiting for the no-data batch
        that may follow)."""
        while True:
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
            batch_of = consumed_by(self.checkpoint)
            batch = max(batch_of.get(k, -1) for k in ks)
            if all(k in batch_of for k in ks) and batch in self.ends and any(
                p["batchId"] == batch for p in q.recentProgress
            ):
                return
            time.sleep(0.1)

    def run(self, host: probe.HostWindow) -> dict:
        from dbt_project_spark.streaming.pipeline import join_metric_streams

        tr = self.ctx.tracer
        self._write([0], time.time())
        t_start = time.perf_counter()
        with tr.span("streaming.join_metric_streams"):
            joined = join_metric_streams(*topic_frames(self.spark, self.in_dir, True))
        q = (
            joined.writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(self.process_batch)
            .start()
        )
        try:
            self._await_all_written(q, [0])
            warmup_s = time.perf_counter() - t_start
            # open loop: the generator keeps its schedule however slow the
            # query is
            t0 = time.time()
            gen = threading.Thread(target=self._paced, args=(t0,))
            with host.interval():
                gen.start()
                gen.join()
                self._await_all_written(q, list(range(1, 1 + self.plan.n_paced)))
            # the burst lands while the no-data batch that follows the open
            # loop runs, so the next listing of all three topics sees it whole
            burst_t = time.time()
            burst = list(range(1 + self.plan.n_paced, self.plan.n_sets))
            if burst:
                with host.interval():
                    self._write(burst, burst_t)
                    self._await_all_written(q, burst)
            t_end = time.time()
        finally:
            progress = [p for p in q.recentProgress]
            q.stop()
        return {
            "warmup_s": warmup_s,
            "t0": t0,
            "t_end": t_end,
            "burst_t": burst_t,
            "progress": progress,
        }

    def measure(self, r: dict, res: Result) -> dict:
        """Latencies and checks from the finished query."""
        batch_of = consumed_by(self.checkpoint)
        res.attempted += len(self.ends) + len(self.errors)
        for err in self.errors:
            res.fail(err)
        lat = []
        for sets in self.plan.record_sets:
            k_last = max(sets)
            if 0 < k_last <= self.plan.n_paced:  # open-loop records only
                b = max(batch_of[k] for k in sets)
                lat.append(self.ends[b] - self.due[k_last])
        burst = range(1 + self.plan.n_paced, self.plan.n_sets)
        drain_s = max((self.ends[batch_of[k]] for k in burst), default=r["burst_t"])
        drain_s -= r["burst_t"]
        burst_records = sum(
            1 for sets in self.plan.record_sets if max(sets) > self.plan.n_paced
        )
        last_paced = max(batch_of[k] for k in range(1, 1 + self.plan.n_paced))
        # the open loop's micro-batches that ran the sinks
        timed = [
            p for p in r["progress"]
            if 0 < p["batchId"] <= last_paced and p["batchId"] in self.sunk
        ]
        self.check(r["progress"], res)
        n = self.plan.n_paced
        return {
            "lat": lat,
            "tail_q": max(50.0, 100.0 * (n - TAIL_SETS) / n),
            "drain_s": drain_s,
            "drain_rate": burst_records / drain_s if burst_records else 0.0,
            "batch_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in timed],
            "batch_of": batch_of,
        }

    def check(self, progress, res: Result) -> None:
        """Joined rows, watermark drops and per-window counts."""
        from pyspark.sql import functions as F

        from dbt_project_spark.operators.windows import windowed_count_distribution
        from dbt_project_spark.streaming.pipeline import join_metric_streams

        res.attempted += 3
        dropped = sum(
            s["numRowsDroppedByWatermark"]
            for p in progress
            for s in p["stateOperators"]
        )
        if dropped:
            res.fail(f"{dropped} rows dropped by the watermark")
        sink = self.spark.read.parquet(os.path.join(self.out_dir, "page_views_distribution"))
        got = {
            (r[0], r[1], r[2]): r[3]
            for r in sink.groupBy("window_start", "window_end", "page_views")
            .agg(F.sum("count"))
            .collect()
        }
        if sum(got.values()) != self.plan.n_records:
            res.fail(f"joined {sum(got.values())} rows of {self.plan.n_records} records")
        batch = join_metric_streams(*topic_frames(self.spark, self.in_dir, False))
        want = {
            (r[0], r[1], r[2]): r[3]
            for r in windowed_count_distribution(batch, "ts", 300, ["page_views"])
            .select("window_start", "window_end", "page_views", "count")
            .collect()
        }
        if got != want:
            res.fail("per-window page_views counts differ from the batch computation")


def _input_loader(ctx: Context):
    """Set-up's input load for the stream: define the three readers."""
    probe_dir = os.path.join(ctx.work, "stream-setup")
    for t in TOPICS:
        os.makedirs(os.path.join(probe_dir, t), exist_ok=True)

    def load(spark):
        with ctx.tracer.span("sources.load"):
            return [f.schema for f in topic_frames(spark, probe_dir, True)]

    return load


def _median_ms(progress, key: str) -> float:
    return probe.median([p["durationMs"].get(key, 0) for p in progress])


def _lag(seg: Segment) -> float:
    return max(seg.written[k] - seg.due[k] for k in seg.due)


def run(ctx: Context) -> Result:
    res = Result()
    host = probe.HostWindow()
    spark, setup_s, start_s, _ = ctx.setups(_input_loader(ctx))
    if not ctx.trace:
        seg = Segment(ctx, spark, "e2e", ctx.seconds, burst=False)
        r = seg.run(host)
        m = seg.measure(r, res)
        lag = _lag(seg)
        res.e2e.update(
            setup_s=probe.median(setup_s) + r["warmup_s"],
            job_s=probe.median(m["batch_s"]),
            latency_p50_s=probe.percentile(m["lat"], 50),
            latency_tail_s=probe.percentile(m["lat"], m["tail_q"]),
        )
        res.notes.append(
            f"samples: {len(m['lat'])} record latencies from {seg.plan.n_paced} paced "
            f"file sets, tail = p{m['tail_q']:.1f}; {len(m['batch_s'])} timed "
            f"micro-batches {[round(b, 2) for b in m['batch_s']]}; "
            f"paced phase {r['burst_t'] - r['t0']:.2f}s; generator lag max {lag:.3f}s; "
            f"setups {[round(s, 3) for s in setup_s]} + warm-up {r['warmup_s']:.2f}s"
        )
    else:
        spark.stop()
        spark = ctx.start_spark(event_log=True)
        tseg = Segment(ctx, spark, "trace", ctx.seconds, burst=True)
        tr = tseg.run(host)
        tm = tseg.measure(tr, res)
        spark.stop()
        res.layers.update(_layers(ctx, tseg, tr, tm))
        res.layers.update(
            {
                "session.start_s": probe.median(start_s),
                "trace.overhead_frac": ctx.overhead_frac(probe.median(tm["batch_s"]), res),
                "host.steal_pct_max": max(host.steal_pct),
                "host.load_max": max(host.load),
                "gen.lag_s_max": _lag(tseg),
            }
        )
    spark.stop()
    res.notes.append(host.note())
    return res


def _layers(ctx: Context, seg: Segment, r: dict, m: dict) -> dict:
    """Per-layer numbers of the traced segment, per micro-batch."""
    progress = [p for p in r["progress"] if p["batchId"] > 0]
    useful = [p for p in progress if p["numInputRows"] > 0]
    n_batches = max(1, len(useful))
    events = probe.read_event_log(ctx.event_log)
    spark_m = probe.spark_layer(events, r["t0"], r["t_end"], cores())
    out = {
        k: (v / n_batches if k not in ("spark.task_skew", "executor.util") else v)
        for k, v in spark_m.items()
    }
    spans = [s for s in ctx.tracer.spans if s["start"] >= r["t0"] and s["end"]]
    fb = [s for s in spans if s["name"] == "sinks.foreach_batch"]
    for name in SINKS:
        out[f"sinks.{name}.s_p50"] = probe.median(
            [s["end"] - s["start"] for s in spans
             if s["name"] == "sinks.write" and s.get("sink") == name]
        )
    out["sinks.foreach_batch_s_p50"] = probe.median([s["end"] - s["start"] for s in fb])
    out["sinks.jobs_per_batch"] = probe.jobs_between(
        events, [(s["start"], s["end"]) for s in fb]
    ) / max(1, len(fb))
    out["sinks.output_files"] = sum(
        1
        for d, _, files in os.walk(seg.out_dir)
        for f in files
        if f.endswith(".parquet")
    )
    state = [
        (
            sum(s["numRowsTotal"] for s in p["stateOperators"]),
            sum(s["memoryUsedBytes"] for s in p["stateOperators"]),
            sum(s["commitTimeMs"] for s in p["stateOperators"]),
        )
        for p in progress
    ]
    batch_of = m["batch_of"]
    backlog = 0
    for p in progress:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        backlog = max(
            backlog,
            sum(
                1 for k, w in seg.written.items()
                if w <= start and batch_of.get(k, -1) >= p["batchId"]
            ),
        )
    out.update(
        {
            "streaming.batches": len(progress),
            "streaming.useful_batch_frac": len(useful) / max(1, len(progress)),
            "streaming.rows_per_batch_p50": probe.median(
                [p["numInputRows"] for p in useful]
            ),
            "streaming.trigger_ms_p50": _median_ms(useful, "triggerExecution"),
            "streaming.add_batch_ms_p50": _median_ms(useful, "addBatch"),
            "streaming.query_planning_ms_p50": _median_ms(useful, "queryPlanning"),
            "streaming.wal_commit_ms_p50": _median_ms(useful, "walCommit"),
            "streaming.latest_offset_ms_p50": _median_ms(useful, "latestOffset"),
            "streaming.state_rows_max": max((s[0] for s in state), default=0),
            "streaming.state_bytes_max": max((s[1] for s in state), default=0),
            "streaming.state_commit_ms_p50": probe.median([s[2] for s in state]),
            "streaming.rows_dropped_by_watermark": sum(
                s["numRowsDroppedByWatermark"]
                for p in r["progress"]
                for s in p["stateOperators"]
            ),
            "streaming.backlog_files_max": backlog * len(TOPICS),
            "streaming.drain_events_per_s": m["drain_rate"],
            "sources.input_bytes": seg.bytes,
            "sources.input_rows": seg.plan.n_records * len(TOPICS),
        }
    )
    return out
