"""session.tune: a package-ship failure propagates instead of being
swallowed — every Python UDF that references package code needs the
shipped zip on the workers."""

from __future__ import annotations

import pytest

from orders_kafka_streams_spark.session import tune


def test_tune_raises_when_package_ship_fails(spark, monkeypatch):
    sc = spark.sparkContext

    def fail(path):
        raise OSError(f"cannot ship {path}")

    monkeypatch.setattr(sc, "_okss_pkg_shipped", False)
    monkeypatch.setattr(sc, "addPyFile", fail)
    with pytest.raises(OSError, match="cannot ship"):
        tune(spark)
