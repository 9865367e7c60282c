"""Spread statistic and result-format rules shared by the benchmark."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spread(xs: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad metric unit: {unit!r}")
    return unit
