"""Vanilla-session gate: the driver runs catalog queries on ITS OWN
SparkSession, built with none of our factory confs (session.py). Two
rounds of driver-only failures (r01 nanosAsLong, r03 inferTimestampNTZ)
were invisible to the local gate because every local test goes through
``get_spark()``. This test mimics the driver: a ``newSession()`` with
the relevant confs forced back to Spark 4 DEFAULTS (builder confs leak
into new sessions via the shared SparkConf, so defaults must be set
explicitly), plus a deliberately non-UTC timezone. Everything a query
needs MUST be re-established by ``ensure_runtime_confs`` (which runs
inside ``load_table``) — if a conf is missing there, this fails locally
before the driver ever sees it.
"""

import pytest

from dbt_project_spark.catalog import ORACLES, QUERIES, load_all
from dbt_project_spark.oracle_check import check_query
from tests.conftest import SF_SMOKE

load_all()

# Spark 4 defaults for every conf our factory (session.py) or
# ensure_runtime_confs overrides and that affects read/query semantics.
_VANILLA_DEFAULTS = {
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",  # ts → NTZ
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    # Driver timezone is the JVM default, not necessarily UTC; pick a
    # non-UTC zone so any query whose parity silently depends on the
    # session TZ (instead of ensure_runtime_confs re-pinning UTC) fails.
    "spark.sql.session.timeZone": "America/New_York",
    # Stream state: the factory's RocksDB provider, join state format 3
    # and core-count shuffle width. Provider and format are reset
    # together — format 3 on the HDFS provider fails at query start.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "spark.sql.streaming.join.stateFormatVersion": "2",
    "spark.sql.shuffle.partitions": "200",
}

# Timestamp-semantics-heavy queries: the class that broke on the driver
# in r01 (nanos) and r03 (NTZ). Full catalog coverage on a vanilla
# session would double the gate's runtime; these exercise every ts
# access pattern in use (unix_micros, unix_timestamp, to_date,
# date_format, window(), epoch-day arithmetic, RANGE frames).
_TS_QUERIES = [
    "attribution_last_touch",  # unix_micros (r03 failure)
    "interval_coverage",  # unix_micros (r03 failure)
    "twa_by_type_day",  # unix_micros via timeseries _events
    "win_time_range_avg",  # unix_micros + RANGE frame
    "asof_last_signup",  # unix_timestamp epoch math
    "scd2_point_in_time",  # epoch-day div
    "wt_daily_rollup",  # to_date/date_format
    "wt_windowed_distribution",  # window() tumbling
    "ohlc_resample",  # window() + min_by/max_by
    "sessionization",  # lag over ts ordering
    # r04s2 additions whose semantics lean on ts/interval/decimal
    # behavior a vanilla session could change:
    "ts_acf_hourly",  # decimal div micro-units + hour grid
    "ts_cusum_changepoint",  # epoch-day grid + date_format
    "time_travel_asof",  # timestamp INTERVAL arithmetic + cutoff literal
    "rolling_distinct_users_7d",  # epoch-day fan-out + date_format
    "ks_test_value",  # unix_timestamp half-split
    # r04s3 additions with their own ts access patterns:
    "seasonal_naive_forecast",  # to_date + date_sub calendar join
    "user_lifecycle_daily",  # to_date + date_add/date_sub + full outer
    "part_demand_xyz",  # unix_timestamp(o_orderdate) week bucketing
    "ts_decompose_daily",  # to_date + dayofweek (ISO mapping)
    "attribution_u_shape",  # okey (date_format millis) journey windows
    "markov_next_event_backtest",  # epoch half-split + lead ordering
    # r05 additions with ts access patterns:
    "welch_ttest_value",  # unix_timestamp half-split (shared _half_counts)
    "slo_burn_rate",  # unix_timestamp trailing windows off max ts
    "dp_noisy_daily_counts",  # date_format day grouping
    "attribution_markov_removal",  # okey (date_format millis) ordering
    "price_index_laspeyres",  # year(l_shipdate) bucketing
    # r05s4 additions with ts access patterns:
    "ts_double_exp_smoothing",  # cast(ts as date) daily grid + lag kernel
    "attribution_time_decay",  # unix_micros journey gaps + dyadic decay
    "user_activity_streaks",  # unix_micros epoch-day islands
    # r05s5 additions with ts access patterns:
    "did_estimator",  # timestamp-literal cutoff comparison
    "simpson_slope_reversal",  # hour(ts) regressor
    # r05s6 additions with ts access patterns:
    "xcorr_lead_lag",  # to_date + epoch-day datediff lag join
    # r06 additions with ts access patterns:
    "cusum_changepoint",  # date_format day grid + day-ordered windows
    "seasonal_strength",  # date_format + weekday(to_date()) ISO mapping
    "wasserstein_value_drift",  # unix_timestamp half-split + value grid
    # r07 additions (face the driver fresh in the r8 window):
    "merge_upsert_orders",  # timestamp-literal cutoffs + date_format ym
    "incremental_daily_rollup",  # to_date(ts) day partitions + date cut
]


@pytest.fixture(scope="module")
def vanilla(spark):
    s = spark.newSession()
    for k, v in _VANILLA_DEFAULTS.items():
        s.conf.set(k, v)
    return s


def _reset(s):
    # ensure_runtime_confs mutates the session during a query build;
    # re-vanillaize between queries so each case starts driver-fresh.
    for k, v in _VANILLA_DEFAULTS.items():
        s.conf.set(k, v)


@pytest.mark.parametrize("name", _TS_QUERIES)
def test_ts_query_green_on_vanilla_session(vanilla, name):
    _reset(vanilla)
    r = check_query(vanilla, SF_SMOKE, name, QUERIES[name], ORACLES.get(name))
    assert r["ok"], r


def test_vanilla_session_reads_ts_as_ntz(vanilla):
    """Meta-test: the fixture really reproduces the driver's world —
    without ensure_runtime_confs the parquet ts column is NTZ (this is
    the exact condition that broke unix_micros in r03)."""
    _reset(vanilla)
    df = vanilla.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"


# RoundCache/checkpoint-discipline queries: the r08/r09 iterative
# restructure (eager tracked localCheckpoint, private-API block handle,
# caller-supplied materializer) must hold on a session the engine
# factory never configured — exactly what the driver gate runs them on,
# and these names lead the r09 REFRESH window.
_CHECKPOINT_QUERIES = ["kcore_parts", "dedup_clusters", "split_group_aware"]


@pytest.mark.parametrize("name", _CHECKPOINT_QUERIES)
def test_checkpoint_query_green_on_vanilla_session(vanilla, name):
    _reset(vanilla)
    r = check_query(vanilla, SF_SMOKE, name, QUERIES[name], ORACLES.get(name))
    assert r["ok"], r


def test_file_stream_pipeline_green_on_vanilla_session(vanilla, tmp_path):
    """The engine's stream pipeline runs on Spark's default state
    settings (HDFS provider, join state format 2, 200 partitions) and
    its sinks match the batch path: it never depends on the factory's
    stream state defaults."""
    import json

    from dbt_project_spark.sources import load_table
    from tests.test_streaming import check_pipeline_matches_batch

    _reset(vanilla)
    events = load_table(vanilla, SF_SMOKE, "events")
    ckpt = check_pipeline_matches_batch(vanilla, events, tmp_path)

    with open(f"{ckpt}/offsets/0") as fh:
        recorded = json.loads(fh.read().splitlines()[1])["conf"]
    for k in (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.join.stateFormatVersion",
        "spark.sql.shuffle.partitions",
    ):
        assert recorded[k] == _VANILLA_DEFAULTS[k], k
