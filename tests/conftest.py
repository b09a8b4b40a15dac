from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_flight_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("afdp-spark-tests")
    yield s


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Blanket cache discipline for the whole suite: any builder-tracked
    cache (functions/caching.py) is unpersisted after every test, so the
    parity sweep (which calls spec.fn directly, bypassing all_queries()'s
    self-cleaning wrapper) cannot accumulate storage blocks test-over-test."""
    yield
    from aws_flight_data_pipeline_spark.functions.caching import release_tracked

    release_tracked()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def drain(q, timeout_s: int) -> None:
    """Wait for a finite (``availableNow``) streaming query to finish.

    A query still running after ``timeout_s`` fails the test here, with its
    ``exception()`` in the message, instead of letting the test assert on
    partial output; the query is stopped first so it does not run on into
    the next test. A query that stopped on an error raises it
    (``awaitTermination`` re-raises)."""
    if not q.awaitTermination(timeout_s):
        err = q.exception()
        q.stop()
        pytest.fail(f"query did not drain in {timeout_s} s (exception: {err})")
