from pathlib import Path

import pytest

from pyspark_etl_twitter_spark.session import get_session

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"
SF_BENCH = str(Path(SF_TINY).with_name("sf0.1"))  # the scale bench.py runs


@pytest.fixture(scope="session")
def spark():
    session = get_session(
        app_name="pyspark_etl_twitter_spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def events_tiny(spark):
    """The sf0.001 events table, falling back to the synthetic generator if
    the on-disk table is missing or unreadable — one table's schema drift
    must never take out the whole streaming test family (round-2 verdict).
    Stream-vs-batch equality tests compare both sides of THIS DataFrame, so
    they stay meaningful under either source."""
    from pyspark_etl_twitter_spark.sources.catalog import load_table
    from pyspark_etl_twitter_spark.sources.synthetic import synthetic_events

    try:
        df = load_table(spark, SF_TINY, "events")
        df.first()
        return df
    except Exception:
        return synthetic_events(spark, n_events=2000)
