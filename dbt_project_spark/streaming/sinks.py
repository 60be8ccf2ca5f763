"""JDBC sink (gated on a driver jar and a reachable database).

The reference writes every analytic to MySQL via JDBC
(spark_streaming_new.py:126-223). ``write_jdbc`` is live-tested
against the Spark-bundled embedded Derby (tests/test_jdbc.py) —
MySQL itself is reachable by swapping url+driver. The pipelines'
own sinks write parquet through ``DataFrame.write``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "com.mysql.cj.jdbc.Driver",
    mode: str = "append",
) -> None:
    """JDBC sink (reference parity: spark_streaming_new.py:126-134).

    Requires the driver jar on the classpath and a reachable DB."""
    try:
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("driver", driver)
            .option("dbtable", table)
            .option("user", user)
            .option("password", password)
            .mode(mode)
            .save()
        )
    except Exception as e:  # pragma: no cover - env-dependent
        raise RuntimeError(
            f"JDBC sink unavailable (driver {driver} jar + reachable DB "
            f"required; url={url}): {e}"
        ) from e
