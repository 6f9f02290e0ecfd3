"""session.py: shuffle partitions follow ``$SPARK_GRAFT_CPUS`` — the env
value that also sizes ``local[...]`` — and fall back to the host's core
count when it is unset or not a number."""

import os

import pytest

from pyspark_etl_twitter_spark.session import pin_oracle_confs


@pytest.mark.parametrize(
    "env, expected",
    [
        (str((os.cpu_count() or 8) + 3), (os.cpu_count() or 8) + 3),
        ("*", os.cpu_count() or 8),
        (None, os.cpu_count() or 8),
    ],
)
def test_pin_oracle_confs_shuffle_partitions_track_env(spark, monkeypatch, env, expected):
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    plain = spark.newSession()
    plain.conf.set("spark.sql.shuffle.partitions", "200")
    pin_oracle_confs(plain)
    assert plain.conf.get("spark.sql.shuffle.partitions") == str(expected)
