import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rustserini_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rustserini-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# Budgets that force each bm25_search_pruned placement: every request fits
# the driver-side task, or none does.
PLACEMENT_BUDGETS = {"driver": 1 << 62, "distributed": -1}


@pytest.fixture
def each_placement(monkeypatch):
    """``run(fn)`` calls ``fn`` once per search placement, selected by
    patching the budget the placement rule reads, and returns
    ``{placement: fn()}``."""
    import rustserini_spark.operators.search as search

    def run(fn):
        out = {}
        for name, budget in PLACEMENT_BUDGETS.items():
            monkeypatch.setattr(search, "DECODE_CACHE_MAX_POSTINGS", budget)
            out[name] = fn()
        return out

    return run
