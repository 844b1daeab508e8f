from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from dist_mapreduce_spark.session import get_spark

    # Small local session for tests; 4 threads keeps startup fast.
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def demo_docs(spark):
    """The reference's actual demo corpus
    (/root/reference/data/input/test{1,2,3}.txt — FIXTURES.md §1.1)."""
    return spark.createDataFrame(
        [
            ("test1.txt", "Hello world hello"),
            ("test2.txt", "World map reduce"),
            ("test3.txt", "New job test"),
        ],
        "doc_id string, text string",
    )


def ref_assign_cells(df, cent_rows, vec_col="embedding"):
    """Reference nearest-centroid assignment for tests: the first entry
    of the SQL ranking (ivf_ranked_cells_sql — dot/|c| DESC, cent_id
    ASC by the oracle's sequential fold), evaluated as a generated
    expression. The production GEMM stage (assign_cells) is checked
    against it."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.similarity import ivf_ranked_cells_sql

    ranked = ivf_ranked_cells_sql(cent_rows, col=vec_col)
    return df.withColumn("cell", F.expr(f"{ranked}[0].c"))
