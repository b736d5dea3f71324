import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)


@pytest.fixture(scope="session")
def spark():
    from log_aggregator_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
