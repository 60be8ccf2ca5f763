import pytest

from dbt_project_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"

# r13 (VERDICT r12 task 3 — the driver's pytest gate could not finish):
# the suite's dominant cost was NOT any single slow test but the
# planted-table writes: PySpark createDataFrame(list) parallelizes the
# pickled rows into defaultParallelism (= 32 local cores) slices, and
# the ubiquitous coalesce(1).write then computes all 32 slices
# SEQUENTIALLY in one task, each paying a Python-worker round-trip —
# measured 4.3 s per 2-row parquet write on local[32] vs 0.8 s with 4
# slices (and 0.45 s uncoalesced). Hundreds of planted tests × 2-5
# tiny writes each ≈ half the 48-minute suite. Test-session-only knob:
# production queries never createDataFrame driver lists. 4 (not 1)
# keeps multi-partition semantics so partition-order bugs still
# surface; JDBC/datasource partition-count tests pin their own counts.
_TEST_CONF = {"spark.default.parallelism": "4"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dbt-project-spark-tests",
        shuffle_partitions=8,
        extra_conf=_TEST_CONF,
    )
    yield s


@pytest.fixture(scope="session")
def spark_session_holder():
    """Session fixture usable inside @given-decorated hypothesis tests
    (hypothesis forbids function-scoped fixtures there)."""
    return get_spark(
        app_name="dbt-project-spark-tests",
        shuffle_partitions=8,
        extra_conf=_TEST_CONF,
    )


@pytest.fixture(scope="module", autouse=True)
def _release_tracked_caches():
    """Tests that call operators DIRECTLY (not through the catalog
    wrapper) leave persist_tracked blocks cached — production releases
    them when the next catalog query is built, but a 850-test session
    has no such release point and the accumulated blocks eventually
    OOM'd the shared JVM (r07: test_graph's double-peel convergence
    test failed in localCheckpoint after 37 min of suite). Release per
    module: no module hands persisted DataFrames to another.

    release_tracked alone proved insufficient (the OOM recurred in the
    same test): localCheckpoint blocks and py4j-held plan trees are
    only freed by an actual GC sweep — see caching.reclaim_jvm."""
    yield
    from dbt_project_spark.caching import release_tracked, reclaim_jvm

    release_tracked()
    reclaim_jvm()


@pytest.fixture(scope="module", autouse=True)
def _no_leaked_ivf_index(tmp_path_factory):
    """The persisted IVF index is keyed by its data dir's full path and
    outlives the process, so a test that builds one over a temp data
    dir must delete it (``shutil.rmtree(ivf_index_dir(d))``), or every
    session leaves one more under ``tempfile.gettempdir()``. After each
    module, fail on (and delete) any index whose data dir is in this
    session's temp tree."""
    yield
    import os
    import shutil

    from dbt_project_spark.operators.ivf import ivf_index_dir

    leaked = []
    for root, dirs, files in os.walk(tmp_path_factory.getbasetemp()):
        if "embeddings.parquet" in dirs + files:
            d = ivf_index_dir(root)
            if os.path.isdir(d):
                leaked.append(root)
                shutil.rmtree(d, ignore_errors=True)
        dirs[:] = [x for x in dirs if not x.endswith(".parquet")]
    assert not leaked, f"IVF index left behind for {leaked}"


def plan_string(df) -> str:
    """Formatted physical plan at an 8 MiB render cap (shared by the
    plan-property test files — ADVICE r10 deduplicated four identical
    copies). ADVICE r09: the engine session caps plan rendering at
    64 KiB (spark.sql.maxPlanStringLength), and a truncated plan would
    make ABSENCE assertions ("no CartesianProduct") pass vacuously —
    fail loudly if even 8 MiB truncates."""
    spark = df.sparkSession
    key = "spark.sql.maxPlanStringLength"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(8 * 1024 * 1024))
    try:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set(key, prev)
    assert " more characters" not in plan, "plan truncated; raise cap"
    return plan
