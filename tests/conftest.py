import signal

import pytest

from vtshaver_spark.session import build_session

# Suite-level hang guard (no pytest-timeout in the container): one
# stuck streaming/py4j call must fail its test, never wedge the gate.
PER_TEST_TIMEOUT_S = 600


@pytest.fixture(autouse=True)
def _per_test_timeout():
    def _alarm(signum, frame):
        raise TimeoutError(
            f"test exceeded {PER_TEST_TIMEOUT_S}s suite-level timeout"
        )

    old = signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(PER_TEST_TIMEOUT_S)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="vtshaver-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def features(spark):
    from synthetic import features_df

    df = features_df(spark).cache()
    df.count()
    return df
