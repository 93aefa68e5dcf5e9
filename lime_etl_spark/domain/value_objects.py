"""Validated value objects for the orchestration runtime.

Parity target: reference lime_etl/domain/value_objects.py (551 LOC).
Same names and validation rules, re-expressed idiomatically (one
small class hierarchy instead of per-class boilerplate):

- JobName / BatchName: 3..199 chars (reference _DbName, line 295)
- TestName: 3..200 chars (reference line 364)
- UniqueId: exactly 32 alphanumeric chars (reference line 228)
- MaxRetries / DaysToKeep / ExecutionMillis: int >= 0 (PositiveInt, line 127)
- TimeoutSeconds: None or int >= 0 (reference line 413)
- MinSecondsBetween{Refreshes,Tests}: int >= 0 (reference line 332)
- LogMessage: non-empty, truncated to last 2000 chars (reference line 517)
- Result: Success | Failure(message) (reference line 165)
"""

from __future__ import annotations

import datetime
import enum
import warnings
from typing import Any, Optional
from uuid import uuid4


class ValueObject:
    """Immutable single-value wrapper with value-based equality."""

    __slots__ = ("value",)

    def __init__(self, value: Any, /):
        object.__setattr__(self, "value", value)

    def __setattr__(self, key: str, val: Any) -> None:
        raise AttributeError(f"{self.__class__.__name__} is immutable")

    def __eq__(self, other: object) -> bool:
        if other.__class__ is self.__class__:
            return self.value == other.value  # type: ignore[attr-defined]
        return NotImplemented

    def __lt__(self, other: object) -> bool:
        if other.__class__ is self.__class__:
            return self.value < other.value  # type: ignore[attr-defined]
        return NotImplemented

    def __hash__(self) -> int:
        return hash((self.__class__.__name__, self.value))

    def __repr__(self) -> str:
        return f"{self.__class__.__name__}({self.value!r})"

    def __str__(self) -> str:
        return str(self.value)


class _BoundedStr(ValueObject):
    MIN_LEN = 1
    MAX_LEN = 1 << 31

    def __init__(self, value: str, /):
        if value is None:
            raise ValueError(f"{self.__class__.__name__} value is required, but got None.")
        if not isinstance(value, str):
            raise TypeError(f"{self.__class__.__name__} expects a str, but got {value!r}")
        if not (self.MIN_LEN <= len(value) <= self.MAX_LEN):
            raise ValueError(
                f"{self.__class__.__name__} must be between {self.MIN_LEN} and "
                f"{self.MAX_LEN} characters long, but got {value!r}."
            )
        super().__init__(value)


class _NonNegativeInt(ValueObject):
    def __init__(self, value: int, /):
        if value is None:
            raise ValueError(f"{self.__class__.__name__} value is required, but got None.")
        if not isinstance(value, int) or isinstance(value, bool):
            raise TypeError(f"{self.__class__.__name__} expects an integer, but got {value!r}")
        if value < 0:
            raise ValueError(
                f"{self.__class__.__name__} value must be positive, but got {value!r}."
            )
        super().__init__(value)


class NonEmptyStr(_BoundedStr):
    pass


class JobName(_BoundedStr):
    MIN_LEN, MAX_LEN = 3, 199


class BatchName(_BoundedStr):
    MIN_LEN, MAX_LEN = 3, 199


class TestName(_BoundedStr):
    __test__ = False  # not a pytest class
    MIN_LEN, MAX_LEN = 3, 200


class MaxRetries(_NonNegativeInt):
    pass


class DaysToKeep(_NonNegativeInt):
    pass


class ExecutionMillis(_NonNegativeInt):
    pass


class MinSecondsBetweenRefreshes(_NonNegativeInt):
    pass


class MinSecondsBetweenTests(_NonNegativeInt):
    pass


class TimeoutSeconds(ValueObject):
    def __init__(self, value: Optional[int], /):
        if value is not None:
            if not isinstance(value, int) or isinstance(value, bool):
                raise TypeError(f"TimeoutSeconds expects an int, but got {value!r}")
            if value < 0:
                raise ValueError(
                    "If a value is provided for TimeoutSeconds, then it must be positive."
                )
        super().__init__(value)


class Flag(ValueObject):
    def __init__(self, value: bool, /):
        if value is None:
            raise ValueError("Flag value is required, but got None.")
        if not isinstance(value, bool):
            raise TypeError(f"Flag expects a bool, but got {value!r}")
        super().__init__(value)


class UniqueId(ValueObject):
    def __init__(self, value: str, /):
        if value is None:
            raise ValueError("UniqueId value is required, but got None.")
        if not isinstance(value, str):
            raise TypeError(f"UniqueId expects a str, but got {value!r}")
        if len(value) != 32 or not value.isalnum():
            raise ValueError(
                f"UniqueId value must be 32 alphanumeric characters, but got {value!r}."
            )
        super().__init__(value)

    @classmethod
    def generate(cls) -> "UniqueId":
        return cls(uuid4().hex)


class Timestamp(ValueObject):
    def __init__(self, value: datetime.datetime, /):
        if value is None:
            raise ValueError("Timestamp value is required, but got None.")
        if not isinstance(value, datetime.datetime):
            raise TypeError(f"Timestamp expects a datetime.datetime, but got {value!r}")
        super().__init__(value)

    @classmethod
    def now(cls) -> "Timestamp":
        return cls(datetime.datetime.now())


class LogMessage(ValueObject):
    MAX_LEN = 2000

    def __init__(self, value: str, /):
        if not value:
            raise ValueError(f"LogMessage value is required, but got {value!r}.")
        value = str(value)
        if len(value) > self.MAX_LEN:
            warnings.warn(
                f"LogMessage must be <= {self.MAX_LEN} characters long, but the message is "
                f"{len(value)}. It has been truncated to fit."
            )
            value = value[-self.MAX_LEN :]
        super().__init__(value)


class LogLevel(str, enum.Enum):
    DEBUG = "DEBUG"
    INFO = "INFO"
    ERROR = "ERROR"

    def __str__(self) -> str:
        return self.value


class Result:
    """Success-or-failure outcome (reference Result/Success/Failure)."""

    __slots__ = ("_message",)

    def __init__(self, message: Optional[str]):
        self._message = message

    @classmethod
    def success(cls) -> "Result":
        return cls(None)

    @classmethod
    def failure(cls, message: str, /) -> "Result":
        if not message:
            raise ValueError("Failure requires a non-empty message.")
        return cls(message)

    @property
    def is_failure(self) -> bool:
        return self._message is not None

    @property
    def is_success(self) -> bool:
        return self._message is None

    @property
    def failure_message(self) -> str:
        if not self.is_failure:
            raise TypeError("Result does not contain a failure value.")
        return self._message  # type: ignore[return-value]

    @property
    def failure_message_or_none(self) -> Optional[str]:
        return self._message

    def __eq__(self, other: object) -> bool:
        if isinstance(other, Result):
            return self._message == other._message
        return NotImplemented

    def __hash__(self) -> int:
        return hash(("Result", self._message))

    def __repr__(self) -> str:
        return "Success()" if self.is_success else f"Failure({self._message!r})"


class ResourceName(_BoundedStr):
    """Key into the shared ``resources`` dict a JobContext carries
    (reference value_objects.py:332)."""

    MIN_LEN, MAX_LEN = 3, 199


class Days(_NonNegativeInt):
    """A day count (reference value_objects.py:386)."""


class SecondsSinceLastRefresh(_NonNegativeInt):
    """Elapsed seconds since a job's last successful run — the number
    the refresh-interval gate compares (reference value_objects.py:536)."""


class MaxProcesses(ValueObject):
    """Optional worker-count bound for parallel batch/job execution
    (reference value_objects.py:420 — there a multiprocessing pool
    size, here the ThreadPoolExecutor width). None = one worker per
    batch/layer."""

    def __init__(self, value: "Optional[int]" = None, /):
        if value is not None:
            if not isinstance(value, int) or isinstance(value, bool):
                raise TypeError(f"MaxProcesses expects an int or None, but got {value!r}")
            if value < 1:
                raise ValueError(f"MaxProcesses must be >= 1, but got {value!r}.")
        super().__init__(value)


class Password(ValueObject):
    """Secret wrapper whose repr/str NEVER leak the value (reference
    value_objects.py:447) — for JDBC credentials in sources/readers
    option plumbing; logs and tracebacks show only asterisks."""

    def __init__(self, value: str, /):
        if value is None:
            raise ValueError("Password value is required, but got None.")
        if not isinstance(value, str):
            raise TypeError(f"Password expects a str, but got a {type(value).__name__}")
        super().__init__(value)

    def __repr__(self) -> str:  # pragma: no cover - trivial
        return "Password(******)"

    def __str__(self) -> str:
        return "******"
