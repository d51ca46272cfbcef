from __future__ import annotations

import contextlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ontoea_spark.session import get_spark

    s = get_spark(app_name="ontoea_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@contextlib.contextmanager
def past_broadcast_gate():
    """Run size-gated operators as if every side measured past the
    broadcast gate (the at-scale verdict): the one threshold,
    ``dictionary.BROADCAST_ROW_THRESHOLD``, is 0 inside the block."""
    from ontoea_spark.operators import dictionary

    with pytest.MonkeyPatch.context() as m:
        m.setattr(dictionary, "BROADCAST_ROW_THRESHOLD", 0)
        yield
