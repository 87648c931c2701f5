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
