import os
import sys

import pytest
from hypothesis import settings
from hypothesis.database import DirectoryBasedExampleDatabase, ReadOnlyDatabase

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from drug_target_discovery_spark.session import get_spark

# replay the committed examples, but never add to or prune them: a test run
# leaves the checkout as it found it
settings.register_profile(
    "repo",
    database=ReadOnlyDatabase(
        DirectoryBasedExampleDatabase(os.path.join(ROOT, ".hypothesis", "examples"))
    ),
)
settings.load_profile("repo")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    wh = tempfile.mkdtemp(prefix="dtd_wh_")
    s = get_spark(
        "tests",
        cpus=8,
        extra_conf={
            # static configs for the bucketed-table tests: keep the Hive
            # warehouse + derby metastore out of the repo tree
            "spark.sql.warehouse.dir": wh,
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}",
        },
    )
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
