from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_helloworld_spark.session import build_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="fhs-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def drain():
    """``drain(q, timeout)`` stops a streaming query once its input is
    processed, then re-raises the query's failure. A processing-time
    (TTL'd) transformWithState operator asks for another micro-batch on
    every trigger, so an ``availableNow`` query over one never ends by
    itself: this polls ``recentProgress`` until a batch with input rows
    has been followed by a later batch (the fed batch is committed), or
    the query has ended, and fails on ``timeout`` instead of going on."""

    def _drain(q, timeout: float = 120.0) -> None:
        deadline = time.monotonic() + timeout
        try:
            while q.isActive:
                progress = q.recentProgress
                fed = [i for i, p in enumerate(progress) if p["numInputRows"]]
                if fed and fed[-1] < len(progress) - 1:
                    break
                if time.monotonic() > deadline:
                    raise AssertionError(f"query not drained in {timeout} s")
                time.sleep(0.2)
        finally:
            q.stop()
        err = q.exception()
        if err is not None:
            raise err

    return _drain
