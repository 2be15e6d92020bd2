"""``get_spark()`` validates its environment knobs before any JVM starts.

``SparkSession`` is replaced by a stub whose ``builder`` raises, so a
good value shows up as reaching the builder and a bad one as a
``ValueError`` naming the variable; neither starts Spark.
"""

from __future__ import annotations

import pytest

from mapreduceimpl_spark import session

_KNOBS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_WAREHOUSE")


class _BuilderReached(Exception):
    pass


class _NoJvm:
    @property
    def builder(self):
        raise _BuilderReached


@pytest.mark.parametrize(
    "var, value, ok",
    [
        ("SPARK_GRAFT_CPUS", "abc", False),
        ("SPARK_GRAFT_CPUS", "0", False),
        ("SPARK_GRAFT_CPUS", "-2", False),
        ("SPARK_GRAFT_CPUS", "2.5", False),
        ("SPARK_GRAFT_CPUS", "", False),
        ("SPARK_GRAFT_CPUS", "4", True),
        ("SPARK_GRAFT_CPUS", "*", True),
        ("SPARK_GRAFT_DRIVER_MEM", "8gb", False),
        ("SPARK_GRAFT_DRIVER_MEM", "lots", False),
        ("SPARK_GRAFT_DRIVER_MEM", "g", False),
        ("SPARK_GRAFT_DRIVER_MEM", "", False),
        ("SPARK_GRAFT_DRIVER_MEM", "512M", True),
        ("SPARK_GRAFT_WAREHOUSE", "", False),
        ("SPARK_GRAFT_WAREHOUSE", "/tmp/mapreduceimpl-test-warehouse", True),
    ],
)
def test_get_spark_validates_env_knobs(monkeypatch, var, value, ok):
    for knob in _KNOBS:
        monkeypatch.delenv(knob, raising=False)
    monkeypatch.setenv(var, value)
    monkeypatch.setattr(session, "SparkSession", _NoJvm())
    if ok:
        with pytest.raises(_BuilderReached):
            session.get_spark()
    else:
        with pytest.raises(ValueError, match=var):
            session.get_spark()
