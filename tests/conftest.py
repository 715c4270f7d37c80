import os

import pytest

from legal_document_ocr_spark.session import build_session


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a per-session warehouse: managed tables never meet a stale location
    os.environ["SPARK_WAREHOUSE_DIR"] = str(tmp_path_factory.mktemp("warehouse"))
    s = build_session(app_name="ldos-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
