import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH, os.path.join(ROOT, "scripts")):
    if p not in sys.path:
        sys.path.insert(0, p)

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A session set up the way the benchmark sets up its own."""
    import run

    run.configure_env(str(tmp_path_factory.mktemp("pb-env")))
    from data_etl_spark.session import build_session

    s = build_session("perfbench-tests")
    yield s
    run.shutdown(s)  # stops the JVM and waits for it
