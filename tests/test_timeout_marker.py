"""The ``@pytest.mark.timeout`` helper in conftest: an over-long body
ends in ``TimeoutExpired`` (after the expiry callback), a body that
finishes in time leaves no alarm armed."""

from __future__ import annotations

import time

import pytest

from conftest import TimeoutExpired, alarm_timeout


def test_alarm_timeout_interrupts_sleep():
    expired = []
    t0 = time.monotonic()
    with pytest.raises(TimeoutExpired):
        with alarm_timeout(1, lambda: expired.append(True)):
            time.sleep(5)
    assert time.monotonic() - t0 < 3
    assert expired == [True]


def test_alarm_timeout_fails_even_if_body_swallows_it():
    with pytest.raises(TimeoutExpired):
        with alarm_timeout(1):
            try:
                time.sleep(5)
            except Exception:
                pass


def test_alarm_timeout_disarmed_after_fast_body():
    with alarm_timeout(1):
        pass
    time.sleep(1.5)  # a leftover alarm would raise here
