"""dbt-style model DAG on Spark: ref() resolution, topological
execution, view/table/incremental materializations, schema tests.

This is the warehouse-pipeline capability the reference's name points
at (a dbt project whose SQL transformations run on Spark SQL). Models
are Python callables or SQL strings with ``{{ ref('...') }}`` /
``{{ source('...') }}`` jinja-lite references; execution is a
topological walk that materializes each model and registers it as a
temp view so downstream SQL/DataFrame models can reference it.

Scale notes: 'view' materialization is pure Catalyst — downstream
models inline the plan, so filters/projections push THROUGH model
boundaries (a dbt view on Spark costs nothing at plan time). 'table'
checkpoints hot intermediates to parquet (columnar, partitionable).
'incremental' only processes partitions newer than the target's
high-water mark and overwrites just those partitions (dynamic
partitionOverwrite), which is how a 100 TB daily pipeline stays
O(day), not O(history).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REF_RE = re.compile(r"\{\{\s*(ref|source)\(\s*'([^']+)'\s*\)\s*\}\}")


def _has_data(spark: SparkSession, path: str, schema) -> bool:
    """Whether a target holds a data file, as Spark's listing sees them.
    None (an empty batch writes only ``_SUCCESS``): a first run. One that
    cannot be read raises on its read instead of being overwritten."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return False
    return len(spark.read.schema(schema).parquet(path).inputFiles()) > 0


class SchemaTestError(AssertionError):
    """A dbt-style schema test found violating rows."""


@dataclass
class _Model:
    name: str
    builder: Callable | str  # fn(project) -> DataFrame, or SQL text
    materialized: str = "view"  # view | table | incremental | merge
    deps: tuple[str, ...] = ()
    path: str | None = None  # parquet target for table/incremental
    partition_by: str | None = None  # partition column (incremental key)
    unique_key: str | None = None  # upsert key for merge
    tests: list = field(default_factory=list)


class Project:
    """A small dbt project: sources + models + tests, run on Spark."""

    def __init__(self, spark: SparkSession, sources: dict[str, DataFrame],
                 target_dir: str | None = None):
        self.spark = spark
        self.sources = dict(sources)
        self.target_dir = target_dir
        self.models: dict[str, _Model] = {}
        self._built: dict[str, DataFrame] = {}

    # -- registration -------------------------------------------------
    def model(self, name: str, deps: tuple[str, ...] = (),
              materialized: str = "view", partition_by: str | None = None,
              unique_key: str | None = None):
        """Decorator registering fn(project) -> DataFrame as a model."""

        def deco(fn):
            self.models[name] = _Model(
                name, fn, materialized, tuple(deps),
                partition_by=partition_by, unique_key=unique_key,
            )
            return fn

        return deco

    def sql_model(self, name: str, sql: str, materialized: str = "view",
                  partition_by: str | None = None) -> None:
        """Register a SQL model; deps are parsed from {{ ref(...) }}."""
        deps = tuple(
            m.group(2) for m in _REF_RE.finditer(sql) if m.group(1) == "ref"
        )
        self.models[name] = _Model(name, sql, materialized, deps,
                                   partition_by=partition_by)

    def add_test(self, model: str, test: Callable[[DataFrame], DataFrame],
                 label: str) -> None:
        self.models[model].tests.append((label, test))

    # -- refs ---------------------------------------------------------
    def ref(self, name: str) -> DataFrame:
        if name in self._built:
            return self._built[name]
        if name in self.models:
            return self._build(name)
        raise KeyError(f"unknown ref {name!r}")

    def source(self, name: str) -> DataFrame:
        return self.sources[name]

    # -- execution ----------------------------------------------------
    def _render_sql(self, sql: str) -> str:
        def sub(m):
            kind, name = m.group(1), m.group(2)
            if kind == "source":
                view = f"__src_{name}"
                self.sources[name].createOrReplaceTempView(view)
                return view
            self._build(name)
            return f"__model_{name}"

        return _REF_RE.sub(sub, sql)

    def _build(self, name: str) -> DataFrame:
        if name in self._built:
            return self._built[name]
        m = self.models[name]
        for d in m.deps:
            self._build(d)
        if isinstance(m.builder, str):
            df = self.spark.sql(self._render_sql(m.builder))
        else:
            df = m.builder(self)
        df = self._materialize(m, df)
        df.createOrReplaceTempView(f"__model_{name}")
        self._built[name] = df
        return df

    def _materialize(self, m: _Model, df: DataFrame) -> DataFrame:
        if m.materialized == "view":
            return df  # pure logical plan — Catalyst inlines it downstream
        if self.target_dir is None:
            raise ValueError(f"model {m.name}: table/incremental needs target_dir")
        path = f"{self.target_dir}/{m.name}"
        schema, cols = df.schema, df.columns

        def target() -> DataFrame:
            # Read with the model's schema, in its column order: inferred
            # partition values change type ('2024-01-01' reads as DATE)
            # and move last, and an empty target reads as 0 rows.
            return self.spark.read.schema(schema).parquet(path).select(*cols)

        if m.materialized == "table":
            df.write.mode("overwrite").parquet(path)
        elif m.materialized == "incremental":
            if m.partition_by is None:
                raise ValueError(f"incremental model {m.name} needs partition_by")
            existing_max = None
            if _has_data(self.spark, path, schema):
                existing_max = target().agg(F.max(m.partition_by)).first()[0]
            if existing_max is not None:
                df = df.filter(F.col(m.partition_by) > F.lit(existing_max))
            (
                df.write.mode("append" if existing_max is not None else "overwrite")
                .partitionBy(m.partition_by)
                .parquet(path)
            )
        elif m.materialized == "merge":
            # dbt's incremental `merge` strategy (MERGE INTO semantics
            # without a table format): upsert by unique_key, rewriting
            # ONLY the partitions the batch touches via dynamic
            # partition overwrite. At 100 TB the write cost is
            # O(affected partitions), not O(table); a real deployment
            # would use Delta/Iceberg MERGE for ACID commit — the
            # dataflow (anti-join survivors ∪ batch, partition-scoped)
            # is identical.
            #
            # ASSUMPTION (same caveat dbt + Delta attach to partition-
            # pruned MERGE): a unique_key's partition_by value is
            # immutable. Survivors are anti-joined only within the
            # batch's partitions, so if a key MOVES partitions between
            # batches the stale row in the old, untouched partition
            # survives and the key is duplicated. Detecting that would
            # require scanning every partition — exactly the O(table)
            # cost this strategy exists to avoid. If keys can move,
            # use `incremental_strategy: merge` on a table format with
            # a full-table match condition instead.
            if m.partition_by is None or m.unique_key is None:
                raise ValueError(
                    f"merge model {m.name} needs partition_by + unique_key"
                )
            if not _has_data(self.spark, path, schema):  # first run
                df.write.mode("overwrite").partitionBy(m.partition_by).parquet(
                    path
                )
            else:
                affected = [
                    r[0]
                    for r in df.select(m.partition_by).distinct().collect()
                ]  # partitions-sized driver list, like the high-water mark
                survivors = target().filter(
                    F.col(m.partition_by).isin(affected)
                ).join(
                    df.select(m.unique_key).distinct(),
                    on=m.unique_key,
                    how="left_anti",
                )
                merged = survivors.unionByName(df)
                # we read and overwrite the same files: cut the lineage
                # onto local storage before the commit deletes them;
                # the checkpoint's only reader is the write below, so
                # its blocks are freed as soon as the commit lands
                from dbt_project_spark.caching import (
                    local_checkpoint_tracked,
                )

                cp = local_checkpoint_tracked(merged)
                merged = cp.df
                conf = "spark.sql.sources.partitionOverwriteMode"
                prev = self.spark.conf.get(conf)
                self.spark.conf.set(conf, "dynamic")
                try:
                    (
                        merged.write.mode("overwrite")
                        .partitionBy(m.partition_by)
                        .parquet(path)
                    )
                finally:
                    self.spark.conf.set(conf, prev)
                    cp.release()
        else:
            raise ValueError(f"unknown materialization {m.materialized!r}")
        return target()

    def run(self, names: list[str] | None = None) -> dict[str, DataFrame]:
        for name in names or list(self.models):
            self._build(name)
        return dict(self._built)

    # -- schema tests (dbt test parity) -------------------------------
    def test(self, names: list[str] | None = None) -> dict[str, int]:
        """Run registered tests; returns violations per test; raises on
        any failure (like `dbt test`).

        All tests execute as ONE Spark action: each test's violation
        set is reduced to a (label, count) row and the rows are
        unioned — N tests cost one job submission instead of N (at
        cluster scale, one scheduler round-trip and shared scan reuse
        instead of N sequential jobs)."""
        from pyspark.sql import functions as F

        per_test = []
        for name in names or list(self.models):
            m = self.models[name]
            if not m.tests:
                continue
            df = self.ref(name)
            for label, test in m.tests:
                per_test.append(
                    test(df).agg(
                        F.lit(f"{name}.{label}").alias("test_name"),
                        F.count(F.lit(1)).alias("violations"),
                    )
                )
        if not per_test:
            return {}
        combined = per_test[0]
        for t in per_test[1:]:
            combined = combined.unionAll(t)
        results = {r["test_name"]: r["violations"] for r in combined.collect()}
        failures = [f"{k}: {v} violations" for k, v in results.items() if v]
        if failures:
            raise SchemaTestError("; ".join(failures))
        return results


# -- dbt built-in test generators ------------------------------------
def not_null(col: str):
    return lambda df: df.filter(F.col(col).isNull())


def unique(col: str):
    return lambda df: (
        df.groupBy(col).count().filter(F.col("count") > 1)
    )


def accepted_values(col: str, values):
    return lambda df: df.filter(~F.col(col).isin(list(values)))


def relationships(col: str, other: DataFrame, other_col: str):
    return lambda df: df.join(
        other.select(F.col(other_col).alias("__k")).distinct(),
        df[col] == F.col("__k"),
        "left_anti",
    )
