import pytest


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: end-to-end spark-submit runs (minutes)")


@pytest.fixture(scope="session")
def spark():
    from pdf2ocr_spark.session import get_spark

    s = get_spark(app_name="pdf2ocr_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    import os

    return os.environ.get("PDF2OCR_TEST_SF_DIR", "/root/testdata/sf0.001")
