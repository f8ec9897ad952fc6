from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

from durablefunctions_mapreduce_dotnet_spark.session import get_spark  # noqa: E402

#: correctness tests run at the smallest scale; the driver re-checks at sf0.01
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def reliable_cuts(tmp_path_factory):
    """One fresh-JVM run of the lineage-cut operators under local and
    reliable cuts, shared by the tests of the reliable path."""
    from .test_cut import run_reliable_cuts

    return run_reliable_cuts(str(tmp_path_factory.mktemp("ckpt")))
