"""Prepared inputs for the batch workload, built once per checkout.

The base tables in ``tables/sf0.01`` are a copy of the repository's
sf0.01 test tables (TESTDATA.md: one parquet file per table, a
TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``), so the queries run over the same value distributions
their oracles and tuning were written for. ``sfgen.ensure_scaled``
scales them into the directory layout the queries run over. DuckDB
oracle results for every query of the workload are computed once per
data directory and cached as digests of the canonical rows, so a run
only compares digests.

Every cache is keyed by the content it was derived from: the scaled
copy by the base tables, ``sfgen.py`` and the factor; each oracle digest
additionally by its oracle SQL and the canonicalisation code. A change
to any of them builds a fresh entry instead of reusing a stale one.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "tables", "sf0.01")
_BUILD = "_build.json"


def _program_file(rel: str) -> str:
    import dbt_project_spark

    return os.path.join(os.path.dirname(dbt_project_spark.__file__), rel)


def content_key(paths: list[str], *extra: str) -> str:
    """Short digest of the files under ``paths`` (recursively, by
    relative name and bytes) and of the ``extra`` strings."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f)
            for d, dirs, names in os.walk(top)
            if "__pycache__" not in d
            for f in names
            if not f.endswith(".pyc")
        )
        for f in files:
            h.update(os.path.relpath(f, os.path.dirname(top)).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    for s in extra:
        h.update(s.encode())
    return h.hexdigest()[:16]


def _parquet_glob(data_dir: str, table: str) -> str:
    path = os.path.join(data_dir, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def duckdb_conn(data_dir: str):
    """DuckDB over ``data_dir``, reading single-file tables as files and
    sfgen-written tables as directories of part files."""
    import duckdb

    from dbt_project_spark.sources.registry import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_parquet_glob(data_dir, t)}')"
        )
    return con


def digest(rows, cols) -> str:
    """Order-insensitive digest of a result, over the oracle gate's
    canonical form (columns sorted by name, floats at full precision)."""
    from dbt_project_spark.oracle_check import _canon

    return hashlib.sha256(repr(_canon(rows, cols)).encode()).hexdigest()


def oracle_digests(data_dir: str, names: list[str], cache_path: str) -> dict:
    """{query: {"rows", "digest"}} from the catalog's DuckDB oracle SQL,
    computed once per data directory and oracle text, cached in
    ``cache_path``."""
    from dbt_project_spark.catalog import ORACLES

    canon = content_key([_program_file("oracle_check.py")])
    cached: dict = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
    keys = {n: content_key([], ORACLES[n], canon) for n in names}
    missing = [n for n in names if cached.get(n, {}).get("key") != keys[n]]
    if missing:
        con = duckdb_conn(data_dir)
        for name in missing:
            cur = con.execute(ORACLES[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            cached[name] = {
                "key": keys[name], "rows": len(rows), "digest": digest(rows, cols)
            }
        con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cached, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cached[n] for n in names}


def prepare(root: str, factor: int, ctx) -> tuple[str, str]:
    """The ``factor``x sfgen copy of the base tables under ``root``
    (factor 1 uses the base tables as they are). Returns (data dir, its
    content key). Starts a Spark session through ``ctx`` only when the
    copy is not yet built; the one-time build time is kept beside it."""
    key = content_key([BASE, _program_file("sfgen.py")], str(factor))
    if factor == 1:
        return BASE, key
    out = os.path.join(root, f"x{factor}-{key}")
    if os.path.exists(os.path.join(out, _BUILD)):
        return out, key
    from dbt_project_spark.sfgen import ensure_scaled

    t0 = time.perf_counter()
    spark = ctx.start_spark()
    try:
        ensure_scaled(spark, BASE, out, factor=factor)
    finally:
        spark.stop()
    with open(os.path.join(out, _BUILD), "w") as fh:
        json.dump({"seconds": time.perf_counter() - t0}, fh)
    return out, key


def build_seconds(data_dir: str) -> float:
    """One-time build time of a prepared copy (0 for the base tables)."""
    path = os.path.join(data_dir, _BUILD)
    if not os.path.exists(path):
        return 0.0
    with open(path) as fh:
        return json.load(fh)["seconds"]


def dir_rows(data_dir: str) -> int:
    """Rows of the registry tables under ``data_dir`` (parquet footers)."""
    total = 0
    for d, _, files in os.walk(data_dir):
        total += sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for f in files
            if f.endswith(".parquet")
        )
    return total


def dir_bytes(data_dir: str) -> int:
    """Bytes of the registry tables' parquet files under ``data_dir``."""
    total = 0
    for d, _, files in os.walk(data_dir):
        total += sum(
            os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet")
        )
    return total
