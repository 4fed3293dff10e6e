"""Wallclock-time parsing for time travel.

Re-implements the reference's multi-format timestamp ladder
(``base/engine/FeatureGroupUtils.getTimeStampFromDateString``,
``base/engine/FeatureGroupUtils.java:109-140``): strip ``/ - : .`` and
whitespace, then accept ``%Y%m%d`` optionally extended with hour, minute,
second and milliseconds. Exact format list preserved (SURVEY.md V4).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

_STRIP = re.compile(r"[/\-:\s.]")

# digit-count → strptime pattern, mirroring the reference's dateFormatPatterns
_PATTERNS = {
    8: "%Y%m%d",
    10: "%Y%m%d%H",
    12: "%Y%m%d%H%M",
    14: "%Y%m%d%H%M%S",
    17: "%Y%m%d%H%M%S%f",  # SSS → microsecond field padded below
}


def parse_wallclock(value) -> datetime:
    """Accept datetime / epoch-ms int / reference-format string → naive UTC datetime."""
    if isinstance(value, datetime):
        return value if value.tzinfo is None else value.astimezone(timezone.utc).replace(tzinfo=None)
    if isinstance(value, (int, float)):
        return datetime.fromtimestamp(value / 1000.0, tz=timezone.utc).replace(tzinfo=None)
    s = _STRIP.sub("", str(value))
    if not s.isdigit() or len(s) not in _PATTERNS:
        raise ValueError(
            f"Unable to identify format of the provided date value : {value}"
        )  # message mirrors FeatureGroupUtils.java:137-139
    pattern = _PATTERNS[len(s)]
    if len(s) == 17:
        s = s + "000"  # millis → micros for %f
    return datetime.strptime(s, pattern)

