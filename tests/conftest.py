from __future__ import annotations

import pytest
from hypothesis import settings

# This host has multi-second latency episodes (see BASELINE.md "Scaling notes");
# hypothesis' default 200 ms deadline turns them into spurious flakes.
settings.register_profile("rlv", deadline=None)
settings.load_profile("rlv")


@pytest.fixture(scope="session")
def spark():
    from rlv.session import make_session

    spark = make_session(4, app="rlv-tests", driver_mem="4g")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def tok_dir(spark, tmp_path_factory):
    """A 400-doc synthetic token table (every FIXTURES family) in 4 files."""
    from rlv import tokens

    d = str(tmp_path_factory.mktemp("tok") / "tokens")
    df = tokens.synth_tokens(spark, n_rows=400, seed=42)
    df.repartition(4).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="session")
def spark_job_ids(spark):
    """``spark_job_ids(fn, group)``: the ids of the Spark jobs ``fn()``
    launches, tagged with a job group and read once the listener bus has
    drained (the status store is fed asynchronously)."""
    sc = spark.sparkContext

    def run(fn, group: str) -> list[int]:
        sc.setJobGroup(group, "count the jobs of one call")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run
