"""MySQL-compatible error surface.

The reference reports MySQL error codes over the wire; the ones it
actually raises (and we mirror) are:

- 1062 duplicate entry  (/root/reference/src/execute_impl/insert.rs:197-220)
- 1146 table doesn't exist (/root/reference/src/core/core_util.rs:143-221)
- 1049 unknown database
- 1105 unknown/unsupported statement
  (/root/reference/src/core/execution.rs:894-1279 fallthrough)
- 1064 parse error
"""

from __future__ import annotations

import re


class EbikeError(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(f"ERROR {code}: {message}")
        self.code = code
        self.message = message


def duplicate_entry(value: str, key: str) -> EbikeError:
    return EbikeError(1062, f"Duplicate entry '{value}' for key '{key}'")


def table_not_exists(name: str) -> EbikeError:
    return EbikeError(1146, f"Table '{name}' doesn't exist")


def access_denied(db: str) -> EbikeError:
    return EbikeError(1044, f"Access denied for user 'root'@'%' to database '{db}'")


def unknown_database(name: str) -> EbikeError:
    return EbikeError(1049, f"Unknown database '{name}'")


def unsupported(what: str) -> EbikeError:
    return EbikeError(1105, f"Unknown error: unsupported statement: {what}")


def parse_error(detail: str) -> EbikeError:
    return EbikeError(1064, f"You have an error in your SQL syntax: {detail}")


def bad_value(col: str) -> EbikeError:
    return EbikeError(1366, f"Incorrect value for column '{col}' (out of range or not convertible to the declared type)")


def null_value(col: str) -> EbikeError:
    return EbikeError(1048, f"Column '{col}' cannot be null")


# A MySQL error raised inside a Spark plan (``raise_error``: the strict
# cast's 1366, NOT NULL's 1048, ALTER MODIFY's 1138) crosses the JVM
# boundary as a generic runtime exception. Its text carries the code and
# message between these sentinels, so any message survives the trip.
_MARK, _END = "EBIKE_ERROR:", ":RORRE_EKIBE"


def marked(err: EbikeError) -> str:
    """The text a plan raises to mean ``err``."""
    return f"{_MARK}{err.code}:{err.message}{_END}"


def unmarked(text: str) -> EbikeError | None:
    """The error ``marked`` put in ``text``, or None."""
    m = re.search(re.escape(_MARK) + r"(\d+):(.*?)" + re.escape(_END), text, re.S)
    return EbikeError(int(m.group(1)), m.group(2)) if m else None
