"""Pytest fixtures so `python3 -m pytest tests` collects and passes the
same suites that run script-style (`python3 tests/test_parity.py` etc.).

Only test_parity.py's functions take fixture params (`spark`,
`scala_dir`); the other suites self-provision. The fixtures mirror
test_parity.main()'s setup exactly — one session-scoped SparkSession
with the same confs, and the lazily-generated Scala Verify output dir —
so both invocation styles exercise identical code paths.
"""

import os
import sys

import pytest

_PYDIR = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
if _PYDIR not in sys.path:
    sys.path.insert(0, _PYDIR)
# python workers unpickle graft.* objects — they need the package too.
# Under pytest the suite modules are real modules (not __main__), so
# computations defined in them pickle BY REFERENCE — workers must be able
# to import test_parity etc., hence the tests dir goes on the path too
# (script mode pickles __main__ objects by value and never needs it).
_TESTSDIR = os.path.dirname(os.path.abspath(__file__))
os.environ["PYTHONPATH"] = (_PYDIR + os.pathsep + _TESTSDIR + os.pathsep +
                            os.environ.get("PYTHONPATH", ""))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]")
             .appName("graft-py-pytest")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def scala_dir():
    import test_parity
    return test_parity.scala_out()
