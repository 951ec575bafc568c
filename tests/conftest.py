import pytest


@pytest.fixture(scope="session")
def spark():
    import __spark_entry__

    session = __spark_entry__.session(
        4, "4g", **{"spark.app.name": "polarify-spark-tests"}
    )
    yield session
    session.stop()
