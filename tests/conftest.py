import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from pipelinedb_spark import get_spark

    s = get_spark("pipelinedb_spark_tests",
                  **{"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture()
def ctx(spark, tmp_path):
    from pipelinedb_spark import PipelineContext

    c = PipelineContext(spark, root=str(tmp_path / "pdb"), num_buckets=8)
    yield c
    c.close()   # keeps a caller's root: remove it here
    shutil.rmtree(c.root, ignore_errors=True)


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
