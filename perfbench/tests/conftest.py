import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]
# executors import the package too
os.environ["PYTHONPATH"] = str(ROOT) + os.pathsep + os.environ.get("PYTHONPATH", "")


@pytest.fixture(scope="session")
def work(tmp_path_factory) -> Path:
    w = tmp_path_factory.mktemp("perfbench")
    (w / "tmp").mkdir()
    return w


@pytest.fixture(scope="session")
def spark(work):
    """The benchmark's own session, event log on."""
    from harness import start_spark, stop_spark

    s = start_spark(work, event_log=True)
    yield s
    stop_spark(s)
