from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))  # scalar_oracle importable
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))


@pytest.fixture(scope="session")
def spark():
    from time2feat_spark.session import get_spark

    s = get_spark(
        "t2f-tests",
        master="local[4]",
        extra={"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_conf(spark):
    """``with spark_conf({key: value}):`` sets session confs for the
    block only and restores the previous values after it."""

    @contextlib.contextmanager
    def scoped(conf: dict):
        prev = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)

    return scoped


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
