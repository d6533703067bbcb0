"""Pure helpers: the tail-percentile rule, the span fingerprint and the
parser for Spark's formatted SQL-metric strings."""

from __future__ import annotations

import hashlib
import re
import statistics

SPAN_COLUMNS = ("doc_id", "kind", "offset", "text", "media_ref")
_MASK64 = (1 << 64) - 1
TAIL_BEYOND = 10  # samples the reported tail must leave above it


def median(values) -> float:
    return float(statistics.median(values))


def tail(values):
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile)``: the ``TAIL_BEYOND+1``-th largest
    sample and the share of samples at or below it, in percent. With
    ``TAIL_BEYOND`` samples or fewer no such percentile exists and the
    result is None.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND
    return sorted(values)[k - 1], 100.0 * k / n


def fingerprint(rows) -> str:
    """Order-insensitive multiset fingerprint of span rows.

    Each row is a tuple in ``SPAN_COLUMNS`` order; the result is the row
    count and the sum (mod 2^64) of a 64-bit BLAKE2b digest per row, so
    reordering rows leaves it unchanged while a lost, duplicated or
    altered row changes it.
    """
    total = 0
    n = 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) & _MASK64
        n += 1
    return f"{n}:{total:016x}"


def arrow_rows(table):
    """Rows of an Arrow table in ``SPAN_COLUMNS`` order, as Python values."""
    return zip(*(table.column(c).to_pylist() for c in SPAN_COLUMNS))


_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "PiB": 2.0**50, "EiB": 2.0**60,
}
_STAGE_REF = re.compile(r"\(stage [^)]*\)")
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)(?:\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB|EiB)\b)?")


def parse_metric(text):
    """Parse one value of ``SQLAppStatusStore.executionMetrics``.

    Spark renders an aggregated metric either as a bare total (``"12 ms"``,
    ``"1,234"``, ``"86.6 KiB"``) or as
    ``"total (min, med, max (stageId: taskId))\\n6.2 s (1.3 s, 1.8 s, 1.8 s (stage 3.0: task 2))"``.
    Returns ``{"total", "min", "med", "max"}`` in seconds, bytes or counts;
    the last three are None for a bare total.
    """
    if text is None:
        return None
    body = _STAGE_REF.sub("", str(text).strip().split("\n")[-1])
    nums = [
        float(v.replace(",", "")) * _UNIT.get(u, 1.0) for v, u in _VALUE.findall(body)
    ]
    if not nums:
        return None
    if len(nums) >= 4:
        return {"total": nums[0], "min": nums[1], "med": nums[2], "max": nums[3]}
    return {"total": nums[0], "min": None, "med": None, "max": None}
