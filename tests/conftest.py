import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from prohap_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4, extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()
