import shutil
import tempfile

import pytest

from tickers_daily_intraday_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cdc-engine-tests")
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="cdc_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
