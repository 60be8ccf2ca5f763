"""Arbitrary stateful streaming via Spark 4's transformWithState API.

`user_stats_tws_stream` maintains a per-user running profile in a
ValueState cell, mirroring streaming/stateful.py's
applyInPandasWithState operator but on the newer StatefulProcessor
API — which is the forward path for custom streaming state: typed
state variables (value/list/map), native TTL, and the RocksDB state
store provider (changelog-checkpointable, state sized by disk not
heap — the 100 TB answer to growing key cardinality).

Requires the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass`` =
``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``),
which is the default on engine sessions (``session.get_spark``); on any
other session callers set it before starting the query
(transformWithState rejects Spark's default HDFS-backed provider).

Determinism: fixed-point integer accumulation (value100), so state is
exactly the batch groupBy regardless of batch boundaries or row order.

Environment gate: the transformWithState Python runner talks to the
JVM over protobuf; the ``protobuf`` package is not installed in this
sandbox, so tests/test_transform_with_state.py skips there (the
applyInPandasWithState operators in streaming/stateful.py cover the
same semantics on the older API and run everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value100 bigint"
STATE_SCHEMA = "n bigint, v100 bigint"


def user_stats_tws_stream(events_stream: DataFrame) -> DataFrame:
    """Per-user running (event count, fixed-point value total) kept in
    ValueState; one updated profile row emitted per key per batch.
    Input needs (user_id, value) columns."""
    import pandas as pd  # noqa: F401 — worker-side import
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            prev = self._state.get()
            n, v100 = (prev[0], prev[1]) if prev is not None else (0, 0)
            for pdf in rows:
                n += int(len(pdf))
                v100 += int(
                    (pdf["value"] * 100).round().astype("int64").sum()
                )
            self._state.update((n, v100))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "total_value100": [v100],
                }
            )

        def close(self) -> None:
            pass

    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
