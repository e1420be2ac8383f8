from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


def spark_jobs(spark, action):
    """Run ``action`` and return its result and the ids of the Spark
    jobs it started, read from the status tracker through a job group."""
    sc, group = spark.sparkContext, f"jobs_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "counted action")
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from utn_dataengineering_stockmarketpipeline_spark.session import get_spark

    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    s = get_spark("utn-stockmarket-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        # Mirror the driver's view registration; events keeps its raw
        # TIMESTAMP_NS here — oracles cast as needed.
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
