from __future__ import annotations

import os
import signal

import pytest

from detector_network_processor_spark.session import get_spark

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"

# Per-test wall-clock cap (pytest-timeout is not installable in this
# environment): a hung streaming query / py4j call would otherwise stall
# the whole suite indefinitely. SIGALRM interrupts the main thread's
# blocking call and fails the test with a clear message. 0 disables
# (e.g. under a debugger). sf0.1 oracle-parity runs need the high default.
_TEST_TIMEOUT_SEC = int(os.environ.get("DNP_TEST_TIMEOUT_SEC", "1800"))


@pytest.fixture(autouse=True)
def _per_test_timeout(request):
    if _TEST_TIMEOUT_SEC <= 0 or not hasattr(signal, "SIGALRM"):
        yield
        return

    def _on_alarm(signum, frame):  # pragma: no cover — only fires on a hang
        raise TimeoutError(
            f"test exceeded DNP_TEST_TIMEOUT_SEC={_TEST_TIMEOUT_SEC}s: "
            f"{request.node.nodeid}"
        )

    prev = signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(_TEST_TIMEOUT_SEC)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="dnp-spark-tests")
    yield spark
    spark.stop()
