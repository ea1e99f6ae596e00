from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pastash_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # master defaults to local[$SPARK_GRAFT_CPUS] (else all cores)
    s = get_spark("pastash_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


def rows_to_dicts(df):
    return [r.asDict(recursive=True) for r in df.collect()]
