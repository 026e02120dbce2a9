import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("work"))
    s, _ = run.start_session(work, cores=2, event_log=None)
    yield s
    run.stop_session(s)
