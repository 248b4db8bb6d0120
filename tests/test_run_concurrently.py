"""Spark-free unit tests of ``session.run_concurrently``, the one
concurrency helper every overlapped pair of Spark jobs goes through."""

from __future__ import annotations

import threading
import time

import pytest

from msg_vector_search_spark.session import run_concurrently


def test_results_come_back_in_leg_order():
    # the legs meet at a barrier (so they really run at once), then
    # finish in REVERSE order — the results must still follow the legs
    barrier = threading.Barrier(4, timeout=10)

    def leg(i):
        barrier.wait()
        time.sleep(0.05 * (3 - i))
        return i

    assert run_concurrently(*(lambda i=i: leg(i) for i in range(4))) \
        == [0, 1, 2, 3]
    assert run_concurrently() == []


def test_error_waits_for_every_leg_and_is_the_first_failed_legs():
    finished = []

    def first_failure():
        time.sleep(0.2)
        raise ValueError("leg 0")

    def slow_success():
        time.sleep(0.5)
        finished.append("leg 1")

    def earliest_failure():
        # fails first in time, but comes later in leg order
        raise KeyError("leg 2")

    with pytest.raises(ValueError, match="leg 0"):
        run_concurrently(first_failure, slow_success, earliest_failure)
    # the slow leg had returned before the error reached the caller
    assert finished == ["leg 1"]
