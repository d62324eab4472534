import pytest


@pytest.fixture(scope="session")
def spark():
    from go_matrixprofile_spark.session import get_spark

    s = get_spark("pytest", cores=4)
    yield s
    s.stop()
