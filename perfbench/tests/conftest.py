import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import run  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    run._isolate_env()
    s = run.start_spark(1)
    yield s
    run.stop_spark(s)
