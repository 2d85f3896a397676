from __future__ import annotations

import pytest

from mex_extractors_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores=None: task slots come from SPARK_GRAFT_CPUS (the driver contract).
    # The heap is capped below the engine's 8g default: ParallelGC grows the
    # heap towards its cap and keeps it, and the multi-process tests start up
    # to eight 1g writer JVMs beside this one. At 2g the full suite's old
    # generation peaked under 1 GB, with ~15 s of GC in all (4 vCPU / 16 GB).
    s = get_spark(
        app_name="mex-spark-tests",
        cores=None,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "2g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001():
    return "/root/testdata/sf0.001"
