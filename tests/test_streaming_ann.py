"""Online ANN serving on Structured Streaming (r05): a stream of
query vectors served against the PERSISTED IVF index via foreachBatch
— the production bridge between the streaming family and the vector
family (an online retrieval endpoint is exactly this: micro-batches
of queries, each probing the same immutable index build). Parity
gate: the streamed results must equal the batch serving path
(ann_ivf_topk's dataflow) on the same queries."""

import os

from pyspark.sql import functions as F
from pyspark.sql import Window

SF = "/root/testdata/sf0.001"
TOPK = 5


def _serve_batch(spark, qdf):
    """Batch serving of a query-vector DataFrame against the
    persisted index — ann_ivf_topk's dataflow parameterized by an
    arbitrary query set (the streamed micro-batch)."""
    from dbt_project_spark.functions.expressions import cosine_similarity
    from dbt_project_spark.operators.ivf import load_ivf_index, probe_cells

    cent, cells, meta = load_ivf_index(spark, SF)
    probes = probe_cells(qdf, cent, meta["nprobe"])
    scored = (
        F.broadcast(probes)
        .join(cells, on="cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_similarity("qe", "embedding"), 6))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def test_streaming_ann_serving_matches_batch(spark, tmp_path):
    from dbt_project_spark.sources import load_table

    e = load_table(spark, SF, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # query stream: two micro-batch files of 4 queries each
    src = str(tmp_path / "qsrc")
    queries.filter(F.col("query_id") < 4).write.parquet(
        os.path.join(src, "b0")
    )
    queries.filter(F.col("query_id") >= 4).write.parquet(
        os.path.join(src, "b1")
    )
    out = str(tmp_path / "out")

    def serve(batch_df, batch_id):
        _serve_batch(batch_df.sparkSession, batch_df).write.mode(
            "append"
        ).parquet(out)

    q = (
        spark.readStream.schema(queries.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(serve)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = _serve_batch(spark, queries)
    assert got.count() == want.count() == 8 * TOPK
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
