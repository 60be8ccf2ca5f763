"""Streaming-vs-batch serving parity as oracled catalog queries (r06).

The reference reconciles its streaming output against a batch
re-derivation and reports match counts (comparision.sql:65-79,
``accuracy_comparison``). The two production serving topologies built
in r05 — online ANN retrieval against the persisted IVF index and
online Naive-Bayes document scoring (spark_streaming_new.py:142-249's
train-offline / score-online pattern) — had that parity gate only in
pytest (tests/test_streaming_ann.py, tests/test_streaming_classifier.py).

These catalog entries run the REAL Structured Streaming micro-batch
path (parquet file stream → foreachBatch → parquet sink, availableNow)
inside the query callable, diff it against the batch serving path, and
return a one-row accuracy summary in the comparision.sql shape. The
oracle states the invariant the reference's reconciliation asserts:
every input is served exactly once and the streamed rows equal the
batch rows — so any parity break (dropped micro-batch, double-served
file, nondeterministic scoring) flips row values and fails the hash.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_project_spark.caching import scratch_dir
from dbt_project_spark.catalog import register
from dbt_project_spark.sources import load_table

_TOPK = 5
_N_ANN_QUERIES = 8  # vec_id < 8: fixed tiny query set, 2 micro-batches


def _run_file_stream(
    spark: SparkSession,
    batches: list[DataFrame],
    serve,
    schema,
    tmp: str,
) -> DataFrame:
    """Write each batch as one parquet dir under a file-stream source,
    run foreachBatch(serve)→parquet sink with availableNow, and return
    the sink's rows."""
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    for i, b in enumerate(batches):
        b.write.parquet(os.path.join(src, f"b{i}"))

    def _sink(batch_df, _batch_id):
        serve(batch_df).write.mode("append").parquet(out)

    q = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # Timed out: stop the query BEFORE reading the sink — otherwise
        # we would diff a partially-written sink (wrong parity counts)
        # and the caller would delete src/ckpt under a live stream.
        q.stop()
        raise RuntimeError(
            "availableNow parity stream did not finish within 300s"
        )
    return spark.read.parquet(out)


def _parity_summary(
    spark: SparkSession,
    endpoint: str,
    streamed: DataFrame,
    batch: DataFrame,
    n_inputs: int,
) -> DataFrame:
    # r13: the two exceptAll passes each re-executed the full batch
    # serving pipeline — persist it for the diff (all uses reduce to
    # scalars here). A frame the caller already cached is the caller's
    # to release; only a cache made here is released here.
    owned = batch.storageLevel == StorageLevel.NONE
    if owned:
        batch = batch.persist()
    total = streamed.count()
    stream_only = streamed.exceptAll(batch).count()
    batch_only = batch.exceptAll(streamed).count()
    if owned:
        batch.unpersist()
    matching = total - stream_only
    acc = round(100.0 * matching / total, 2) if total else 0.0
    return spark.createDataFrame(
        [(endpoint, n_inputs, matching, stream_only, batch_only, acc)],
        "endpoint string, n_inputs bigint, matching_records bigint, "
        "stream_only bigint, batch_only bigint, accuracy_percentage double",
    )


@register(
    "serving_parity_ann",
    oracle=f"""
    SELECT 'ann_ivf_online' AS endpoint,
           CAST(COUNT(*) AS BIGINT) AS n_inputs,
           CAST(COUNT(*) * {_TOPK} AS BIGINT) AS matching_records,
           CAST(0 AS BIGINT) AS stream_only,
           CAST(0 AS BIGINT) AS batch_only,
           CAST(100.0 AS DOUBLE) AS accuracy_percentage
    FROM embeddings WHERE vec_id < {_N_ANN_QUERIES}
    """,
)
def serving_parity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ANN endpoint reconciliation: a micro-batched stream of
    query vectors served via foreachBatch against the persisted IVF
    index must return row-for-row the batch serving path's top-k, and
    every query must yield exactly k rows. Parity:
    comparision.sql:65-79 applied to spark_streaming_new.py's
    stream-serving topology. The index is opened once, here; both
    paths serve from it with ``ivf_search`` (ann_ivf_topk's
    dataflow)."""
    from dbt_project_spark.operators.ivf import ivf_search, load_ivf_index
    from dbt_project_spark.operators.similarity import ann_queries

    e = load_table(spark, sf_dir, "embeddings")
    cent, cells, meta = load_ivf_index(spark, sf_dir, e)

    def _serve(qdf: DataFrame) -> DataFrame:
        return ivf_search(qdf, cent, cells, meta["nprobe"], _TOPK)

    queries = ann_queries(e, _N_ANN_QUERIES)
    half = _N_ANN_QUERIES // 2
    streamed = _run_file_stream(
        spark,
        [
            queries.filter(F.col("query_id") < half),
            queries.filter(F.col("query_id") >= half),
        ],
        _serve,
        queries.schema,
        scratch_dir("parity_ann_"),
    )
    batch = _serve(queries)
    return _parity_summary(
        spark, "ann_ivf_online", streamed, batch, queries.count()
    )


@register(
    "serving_parity_classifier",
    oracle="""
    SELECT 'nb_langid_online' AS endpoint,
           CAST(COUNT(*) AS BIGINT) AS n_inputs,
           CAST(COUNT(*) AS BIGINT) AS matching_records,
           CAST(0 AS BIGINT) AS stream_only,
           CAST(0 AS BIGINT) AS batch_only,
           CAST(100.0 AS DOUBLE) AS accuracy_percentage
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def serving_parity_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online quality-filter reconciliation: the held-out documents
    streamed through foreachBatch NB scoring (model trained offline on
    the train split) must produce exactly one prediction per doc,
    identical to the batch scoring path. Parity: comparision.sql:65-79
    applied to the train-offline/score-online topology
    (spark_streaming_new.py:142-249). The model is trained once, here,
    and every micro-batch scores against it."""
    from dbt_project_spark.caching import persist_tracked
    from dbt_project_spark.queries_training import (
        NB_TEST_MOD,
        _nb_model,
        _nb_predict,
        nb_bucketize,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    incoming = docs.filter(F.col("doc_id") % NB_TEST_MOD == 0)
    bt, lam, prior, nc = _nb_model(spark, sf_dir)
    # the batch path and every micro-batch score against these
    lam, prior, nc = (persist_tracked(t) for t in (lam, prior, nc))
    batch = _nb_predict(
        bt.filter(F.col("doc_id") % NB_TEST_MOD == 0), lam, prior, nc
    )
    mid = incoming.agg(
        F.expr("percentile_approx(doc_id, 0.5)")
    ).collect()[0][0]

    def _serve(batch_df: DataFrame) -> DataFrame:
        return _nb_predict(nb_bucketize(batch_df), lam, prior, nc)

    streamed = _run_file_stream(
        spark,
        [
            incoming.filter(F.col("doc_id") <= mid),
            incoming.filter(F.col("doc_id") > mid),
        ],
        _serve,
        incoming.schema,
        scratch_dir("parity_nb_"),
    )
    return _parity_summary(
        spark, "nb_langid_online", streamed, batch, incoming.count()
    )


@register(
    "serving_parity_windowed",
    oracle="""
    WITH g AS (SELECT DISTINCT
                 CAST(floor(epoch(ts)/300) AS BIGINT) AS wb, event_type
               FROM events)
    SELECT 'windowed_dist_online' AS endpoint,
           CAST(COUNT(*) AS BIGINT) AS n_inputs,
           CAST(COUNT(*) AS BIGINT) AS matching_records,
           CAST(0 AS BIGINT) AS stream_only,
           CAST(0 AS BIGINT) AS batch_only,
           CAST(100.0 AS DOUBLE) AS accuracy_percentage
    FROM g
    """,
)
def serving_parity_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OWN reconciliation, end to end: the update-mode
    streaming windowed distribution (spark_streaming_new.py:142-153
    run as a real multi-trigger file stream through the versioned
    foreachBatch upsert of streaming/update_dist.py) must converge to
    the batch windowed distribution row-for-row — count AND
    recomputed pct-of-window — with exactly one row per
    (5-min window, event_type) group (comparision.sql:25-41).
    Completes the oracled serving-parity trio: retrieval
    ([[serving_parity_ann]]), classification
    ([[serving_parity_classifier]]), and the reference's original
    windowed-analytics topology."""
    from dbt_project_spark.operators.windows import (
        windowed_count_distribution,
    )
    from dbt_project_spark.streaming.update_dist import (
        read_current_distribution,
        run_update_distribution,
    )

    events = load_table(spark, sf_dir, "events")
    tmp = scratch_dir("parity_win_")
    src = os.path.join(tmp, "src")
    # 4 time-ranged files → 4 triggers; unbounded watermark keeps
    # every event (update mode needs no eviction for correctness)
    events.repartitionByRange(4, "ts").write.parquet(src)
    run_update_distribution(
        spark,
        src,
        state_dir=os.path.join(tmp, "state"),
        out_dir=os.path.join(tmp, "out"),
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        width_sec=300,
        key_col="event_type",
        watermark="3650 days",
        # r13: state here is |5-min windows × event types| rows —
        # bounded and volume-independent — so 8 state partitions
        # (not the batch shuffle width) bounds the per-trigger
        # state-store commit/snapshot fixed cost at ANY event
        # volume; each partition holds a trivially small slice.
        state_shuffle_partitions=8,
    )
    streamed = read_current_distribution(spark, os.path.join(tmp, "out"))
    # persist: n_inputs below + both exceptAll diffs re-executed
    # this agg 3× (_parity_summary reads this cache, releases none).
    batch = windowed_count_distribution(
        events, "ts", 300, ["event_type"]
    ).persist()
    try:
        return _parity_summary(
            spark, "windowed_dist_online", streamed, batch, batch.count()
        )
    finally:
        batch.unpersist()
