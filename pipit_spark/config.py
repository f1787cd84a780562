"""Engine option registry (reference pipit/util/config.py + pipit/tests/
config.py semantics: validated get/set/reset of named options).

Spark-relevant options are added alongside the reference's UI-oriented
ones — the Arrow batch size of the matching pass and the dedup bloom
sizing — so deployments tune the engine the same way users tune the
reference. Per-call choices (the matching kernel, whether a Trace
persists its matched frame) are parameters, not options.
"""

from __future__ import annotations

import re
from typing import Any, Callable

_LOG_LEVELS = ("CRITICAL", "ERROR", "WARNING", "INFO", "DEBUG", "NOTSET")
_URL_RE = re.compile(r"^https?://[\w.\-]+(:\d+)?(/.*)?$")


def _log_level(key: str, value: Any) -> None:
    if not isinstance(value, str) or value.upper() not in _LOG_LEVELS:
        raise ValueError(
            f"invalid value {value!r} for {key!r}: one of {_LOG_LEVELS}"
        )


def _url(key: str, value: Any) -> None:
    if not isinstance(value, str) or not _URL_RE.match(value):
        raise ValueError(f"invalid value {value!r} for {key!r}: expected a URL")


def _pos_int(key: str, value: Any) -> None:
    if not isinstance(value, int) or isinstance(value, bool) or value < 1:
        raise ValueError(
            f"invalid value {value!r} for {key!r}: expected a positive int"
        )


def _word_aligned_int(key: str, value: Any) -> None:
    _pos_int(key, value)
    if value % 64:
        raise ValueError(
            f"invalid value {value!r} for {key!r}: must be a multiple of 64"
        )


# key -> (default, validator)
_REGISTRY: dict[str, tuple[Any, Callable[[str, Any], None]]] = {
    # reference options (pipit/tests/config.py golden values)
    "log_level": ("INFO", _log_level),
    "notebook_url": ("http://localhost:8888", _url),
    # engine options
    # Arrow batch rows for pandas-UDF lanes — consumed by
    # session.get_spark (spark.sql.execution.arrow.maxRecordsPerBatch)
    # and by the location kernel's emit slices. Emit-lane per-task heap
    # scales with it (SCALING.md round-11 stock-heap probe).
    "matching.max_records_per_batch": (65536, _pos_int),
    # incremental-ingestion bloom pre-filter sizing (fp ≈ (1-e^-kn/m)^k);
    # bits must be word-aligned for the bitmap's bit_or aggregation
    "dedup.bloom_bits": (1 << 20, _word_aligned_int),
    "dedup.bloom_hashes": (5, _pos_int),
}

_options: dict[str, Any] = {k: v[0] for k, v in _REGISTRY.items()}


def get_option(key: str) -> Any:
    if key not in _REGISTRY:
        raise ValueError(f"unknown option {key!r}")
    return _options[key]


def set_option(key: str, value: Any) -> None:
    if key not in _REGISTRY:
        raise ValueError(f"unknown option {key!r}")
    _REGISTRY[key][1](key, value)
    _options[key] = value


def reset_option(key: str) -> None:
    if key not in _REGISTRY:
        raise ValueError(f"unknown option {key!r}")
    _options[key] = _REGISTRY[key][0]


def reset_all_options() -> None:
    for k in _REGISTRY:
        reset_option(k)
