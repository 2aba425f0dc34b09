from __future__ import annotations

import shutil
import tempfile

import pytest

from otel_worker_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # task slots from SPARK_GRAFT_CPUS (the host's cores); the fixed
    # shuffle width keeps plan-dependent assertions host-independent
    return get_spark(app_name="tests", shuffle_partitions=8)


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="ows-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)
