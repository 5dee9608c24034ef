from __future__ import annotations

import logging
import os

import pytest

from etl_dag_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="etl-dag-spark-tests",
        cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")),
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")),
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def both_paths(caplog, monkeypatch):
    """``both_paths(fn, auto, forced=auto)`` runs ``fn()`` twice: as the
    adaptive size gates (operators/adaptive.py) decide, then with every
    gate forced distributed. From the gates' DEBUG records it asserts
    that the first run took the driver branch at exactly the gates named
    in ``auto`` and the forced run the distributed branch at those in
    ``forced``, so a pin can never compare one path with itself. Returns
    both results."""
    from etl_dag_spark.operators import adaptive

    caplog.set_level(logging.DEBUG, logger=adaptive.__name__)

    def run(fn, auto, forced=None):
        results = []
        for force, ops in ((False, auto), (True, forced or auto)):
            monkeypatch.setattr(adaptive, "FORCE_DISTRIBUTED", force)
            caplog.clear()
            results.append(fn())
            branch = "distributed" if force else "driver"
            logged = {
                r.args[:2] for r in caplog.records if r.name == adaptive.__name__
            }
            assert logged == {(op, branch) for op in ops}, logged
        return results

    return run
