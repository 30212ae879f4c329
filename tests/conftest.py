import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small + fast for unit tests
# session.py's default heap is 24g, more than a 15 GB host has: the JVM
# then grows until the kernel kills it mid-suite and every later test
# fails on a refused py4j connection. 4g is the heap perfbench/host.py
# pins for the same host; it leaves room for the Python workers.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


@pytest.fixture(scope="session")
def spark():
    from webscraping_spark.session import get_spark

    s = get_spark(app_name="webscraping_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(params=["ntz", "ltz"], ids=["parquet-naive", "parquet-instant"])
def events_parquet(request, tmp_path_factory):
    """The SAME synthetic events written under BOTH parquet timestamp
    typings — naive (isAdjustedToUTC=false → Spark TIMESTAMP_NTZ) and
    UTC-instant (isAdjustedToUTC=true → TIMESTAMP_LTZ). Every operator
    that consumes a timestamp column must produce bit-identical output on
    both (the round-4 driver hash failures were an NTZ cast re-rendering
    LTZ input through the session timezone). Yields (path, typing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 400
    micros = [
        1704067200_000_000 + (i % 40) * 137_000_000 + (i // 40) * 7_000_000_000
        for i in range(n)
    ]
    ts_type = (
        pa.timestamp("us") if request.param == "ntz" else pa.timestamp("us", tz="UTC")
    )
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(micros, pa.timestamp("us")).cast(ts_type),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array([f"t{i % 3}" for i in range(n)]),
            "value": pa.array([(i * 13 % 101) / 4.0 for i in range(n)], pa.float64()),
        }
    )
    path = tmp_path_factory.mktemp("tsparquet") / f"events_{request.param}.parquet"
    pq.write_table(table, path)
    return str(path), request.param


@pytest.fixture
def nonutc_session(spark):
    """Run a test under a deliberately non-UTC Spark session timezone,
    restoring the engine default afterwards."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", prev)
