"""Summary statistics and the metric-name grammar shared by the runner
and its self-tests."""

from __future__ import annotations

import re

#: A metric name: starts with a letter or digit, then letters, digits,
#: ``_``, ``.`` and ``-``; at most 64 characters.
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: A unit: letters, digits, ``_``, ``/``, ``%``, ``.`` and ``-``; at most 16.
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: Samples that must lie beyond a reported tail percentile.
TAIL_BEYOND = 10


def valid_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT.fullmatch(unit) is not None


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns ``(percentile, value, n)``: with the n samples sorted, the
    value at rank ``n - TAIL_BEYOND`` (1-based) has exactly TAIL_BEYOND
    samples beyond it, and is the ``100 * (n - TAIL_BEYOND) / n``-th
    percentile. None when there are too few samples for any tail.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND
    return 100.0 * rank / n, sorted(values)[rank - 1], n
