"""Join-strategy operators: broadcast dims, salted skew joins,
bucketed range joins, and bucketed-table co-located joins.

Join policy: Spark's planner and AQE choose each join's strategy, from
size estimates and again from each finished shuffle stage's measured
size. A forced broadcast cannot fall back (one that cannot be built
fails the query), so the package forces one only behind a measured
guard or a stated bound (``verify_jaccard``'s doc list, a dimension the
caller names in ``broadcast_dim_join``); tests/test_join_policy.py
holds the allow-list. A small side the
planner cannot size is shown to it: ``literal_table``, ``at_most``.

These encode the 100 TB join playbook:
- dimension tables broadcast (no shuffle of the fact side) — by AQE,
  or by ``broadcast_dim_join`` when the caller states it;
- a skewed key salts the big side and explodes the small side —
  turning one straggler partition into n_salts even ones;
- interval/range joins bucket the time axis so candidates are
  bucket-local instead of a cross product;
- repeated co-located joins persist both sides bucketed by the join
  key (``writer.bucketBy(...).saveAsTable``) — Spark then plans
  SortMergeJoin with ZERO exchanges (verified in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Explicit broadcast join: dimension-ness is semantic knowledge
    (nation has 25 rows at ANY scale factor) that Spark's size
    estimator can't always see through a plan. The caller vouches for
    ``dim``'s size (in the catalog: a row per embedding dimension)."""
    return fact.join(F.broadcast(dim), on, how)


def literal_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Literal ``rows`` (DDL ``schema``) with a size the planner sees.
    ``createDataFrame`` has none, so crossed with an unsized scan it plans
    a CartesianProduct; one row exploded into structs is a few bytes."""
    fields = DataType.fromDDL(schema).fields
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, fields)])
        for r in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def at_most(df: DataFrame, max_rows: int) -> DataFrame:
    """``df``, at most ``max_rows`` rows by construction (a key filter, a
    top-k, a product of such), with the bound shown to the planner: a
    filter or join is sized from its inputs, so a join against it shuffles
    the other side (or plans a CartesianProduct) at scale; a LIMIT is
    sized at ``max_rows`` rows and broadcast. It drops no row."""
    return df.limit(max_rows)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: the (large, skewed) left side gets a
    deterministic salt in [0, n_salts); the (smaller) right side is
    exploded to every salt value, so each hot key's rows spread over
    n_salts partitions instead of one straggler.

    ``salt_source`` is a left column whose hash spreads rows. The
    default salts on the hash of the ENTIRE left row, which is
    deterministic across runs, retries, and partition layouts (rows
    with identical content share a salt — harmless for spreading
    unless the hot key's rows are all byte-identical, in which case
    pass a distinguishing ``salt_source``). Result equals the plain
    join exactly (verified in tests).
    """
    src = (
        F.col(salt_source)
        if salt_source
        else F.xxhash64(*[F.col(c) for c in left.columns])
    )
    l = left.withColumn("__salt", F.pmod(F.xxhash64(src), n_salts).cast("int"))
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l.join(r, [key, "__salt"]).drop("__salt")


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Point-in-interval join without a cross product: bucket the axis
    by ``bucket_width``, explode each interval into the buckets it
    covers, equi-join on bucket, then apply the exact range predicate.
    Cost: |points| + Σ interval_spans/bucket_width join rows instead
    of |points| × |intervals|."""
    p = points.withColumn(
        "__bucket", F.floor(F.col(point_col) / bucket_width).cast("bigint")
    )
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width).cast("bigint"),
                F.floor(F.col(end_col) / bucket_width).cast("bigint"),
            )
        ),
    )
    return (
        p.join(iv, "__bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("__bucket")
    )


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 16
) -> None:
    """Persist a table bucketed+sorted by its join key. Subsequent
    joins between tables bucketed the same way need no exchange and
    no sort — the physical layout IS the shuffle, paid once at write
    time instead of per query."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # A location can survive a dropped/forgotten catalog entry (e.g.
    # new session, old warehouse dir) — clear it so saveAsTable never
    # hits LOCATION_ALREADY_EXISTS.
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    jsc = spark._jsc
    path = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{table}")
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bloom_filter_build(
    keys: DataFrame, key_col: str, m_bits: int, k_hashes: int
) -> DataFrame:
    """Build a Bloom-filter bitmap over ``keys[key_col]`` as ONE row
    holding an array<bigint> of ``m_bits/64`` words — the runtime-
    filter pattern: condense a selective build side into KBs that
    broadcast to every scan task, so the probe side is pre-filtered
    BEFORE it shuffles (at 100 TB the shuffle saved is the win; the
    few false positives are removed by the exact join afterwards).

    Hash i of key = md5-prefix integer of "i:key" mod m_bits (the
    repo's cross-engine-deterministic hash, functions/expressions.py),
    so an oracle can reproduce membership exactly as position-set
    containment without bit arithmetic.
    """
    from dbt_project_spark.functions.expressions import md5_int

    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    (
                        md5_int(
                            F.concat(
                                F.lit(f"{i}:"), F.col(key_col).cast("string")
                            )
                        )
                        % m_bits
                    ).alias(f"p{i}")
                    for i in range(k_hashes)
                ]
            )
        ).alias("pos")
    )
    words = pos.select(
        F.expr("pos div 64").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
    ).groupBy("w").agg(F.expr("bit_or(m)").alias("v"))
    dense = (
        keys.sparkSession.range(m_bits // 64)
        .select(F.col("id").alias("w"))
        .join(words, "w", "left")
        .select("w", F.coalesce("v", F.lit(0)).alias("v"))
    )
    return dense.agg(
        F.expr("transform(array_sort(collect_list(struct(w, v))), x -> x.v)")
        .alias("bitmap")
    )


def bloom_might_contain(
    probe: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Filter ``probe`` to rows whose key MIGHT be in the Bloom
    bitmap (no false negatives; false-positive rate set by m/n and
    k). The 1-row bitmap is broadcast — the filter evaluates as pure
    JVM bit arithmetic in the scan stage, no shuffle."""
    from dbt_project_spark.functions.expressions import md5_int

    out = probe.crossJoin(bitmap)
    cond = F.lit(True)
    for i in range(k_hashes):
        p = md5_int(F.concat(F.lit(f"{i}:"), F.col(key_col).cast("string"))) % m_bits
        out = out.withColumn(f"__p{i}", p)
        cond = cond & F.expr(
            f"(shiftrightunsigned(element_at(bitmap, "
            f"CAST(__p{i} div 64 AS INT) + 1), CAST(__p{i} % 64 AS INT)) & 1) = 1"
        )
    drops = ["bitmap"] + [f"__p{i}" for i in range(k_hashes)]
    return out.filter(cond).drop(*drops)
