"""Injectable clock (reference lime_etl/domain/timestamp_adapter.py).

The reference threads a TimestampAdapter resource through the runner so
refresh-interval / test-interval decisions are testable without real
sleeps; ``ClockAdapter`` is the same seam. Production uses
``LocalClockAdapter`` (wall clock); tests use ``FakeClockAdapter`` and
advance time explicitly.
"""

from __future__ import annotations

import abc
import datetime
import time

from lime_etl_spark.domain.value_objects import ExecutionMillis

__all__ = ("ClockAdapter", "LocalClockAdapter", "FakeClockAdapter")


class ClockAdapter(abc.ABC):
    @abc.abstractmethod
    def now(self) -> datetime.datetime:
        raise NotImplementedError

    @abc.abstractmethod
    def sleep(self, seconds: float) -> None:
        """Wait (retry backoff); FakeClockAdapter advances instantly."""
        raise NotImplementedError

    def get_elapsed_time(self, start: datetime.datetime) -> ExecutionMillis:
        """Reference TimestampAdapter.get_elapsed_time (timestamp_adapter.py:22);
        0 when the clock stepped back past ``start``."""
        return ExecutionMillis(max(0, int((self.now() - start).total_seconds() * 1000)))


class LocalClockAdapter(ClockAdapter):
    def now(self) -> datetime.datetime:
        return datetime.datetime.now()

    def sleep(self, seconds: float) -> None:
        if seconds > 0:
            time.sleep(seconds)


class FakeClockAdapter(ClockAdapter):
    """Deterministic clock for tests: starts at ``start`` and only moves
    when ``advance`` is called."""

    def __init__(self, start: datetime.datetime | None = None) -> None:
        self._now = start or datetime.datetime(2020, 1, 1)

    def now(self) -> datetime.datetime:
        return self._now

    def advance(self, seconds: float) -> None:
        self._now += datetime.timedelta(seconds=seconds)

    def sleep(self, seconds: float) -> None:
        """No real wait — time just moves (backoff tests run instantly)."""
        self.advance(seconds)
