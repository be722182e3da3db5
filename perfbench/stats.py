"""The benchmark's own arithmetic: percentiles, open-loop freshness,
generator lateness, span self time, result normalization and the
order-free multiset checksum.

Everything here is pure Python so it can be unit-tested without Spark
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, min_beyond: int = MIN_BEYOND) -> tuple[int, float] | None:
    """The highest percentile that has at least ``min_beyond`` samples
    beyond it, as ``(percentile, value)``; None when there are too few
    samples for any.

    The value is the sample with exactly ``min_beyond`` larger-ranked
    samples after it; the percentile is the share of samples at or below
    it, rounded down."""
    xs = sorted(values)
    n = len(xs)
    if n <= min_beyond:
        return None
    i = n - 1 - min_beyond
    return (100 * (i + 1)) // n, float(xs[i])


def freshness_ms(
    scheduled_s: list[float],
    batches: list[tuple[float, int]],
    rows_per_file: int,
    rows_before: int = 0,
) -> list[float]:
    """Per-file freshness in an open-loop phase.

    ``scheduled_s[k]`` is when file k was due to be dropped; ``batches``
    lists ``(commit_time_s, cumulative_rows)`` per micro-batch in commit
    order, where ``cumulative_rows`` counts every row the query has
    read, including the ``rows_before`` rows of earlier phases. The file
    source takes files in drop order, so file k is committed by the
    first batch whose cumulative row count reaches
    ``rows_before + (k + 1) * rows_per_file``. Freshness is that batch's
    commit time minus the file's *scheduled* drop, so a stalled
    generator cannot hide queueing delay."""
    out = []
    j = 0
    for k, due in enumerate(scheduled_s):
        need = rows_before + (k + 1) * rows_per_file
        while j < len(batches) and batches[j][1] < need:
            j += 1
        if j == len(batches):
            raise ValueError(f"file {k} ({need} cumulative rows) never committed")
        out.append((batches[j][0] - due) * 1000.0)
    return out


def drain_s(start_s: float, commits: list[tuple[float, int]], backlog_rows: int) -> float:
    """Wall time of a closed-loop backlog drain: from ``start_s`` (the
    first batch's start) to the commit of the batch that brings the
    cumulative input rows to ``backlog_rows``; ``commits`` lists
    ``(commit_time_s, cumulative_rows)`` per batch in commit order.
    Every backlog batch counts, slow ones included."""
    for t, cum in commits:
        if cum >= backlog_rows:
            return t - start_s
    raise ValueError(f"backlog of {backlog_rows} rows never committed")


def lateness_ms(scheduled_s: list[float], actual_s: list[float]) -> float:
    """How late the load generator ran: the largest delay between a
    drop's schedule and when it actually happened (never negative)."""
    return max([0.0] + [(a - s) * 1000.0 for s, a in zip(scheduled_s, actual_s)])


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that child spans cover
    (overlapping children are counted once; parts outside the parent
    are ignored)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def norm_cell(v) -> str:
    """Canonical text of one result value; the same rules as the repo's
    oracle gate, so Spark rows and DuckDB rows compare exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, list):
        return "l:[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m:{" + ",".join(f"{k}={norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"s:{v}"


def normalize(rows, colnames: list[str]) -> list[tuple]:
    """Rows as sorted tuples of canonical cells, columns in name order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def multiset_checksum(rows) -> tuple[int, int]:
    """``(row count, checksum)`` of a multiset of rows, independent of
    row order: the sum modulo 2**64 of a 64-bit digest of each row's
    canonical text. A duplicated or lost row changes the sum."""
    total = 0
    n = 0
    for r in rows:
        text = "\x1f".join(norm_cell(v) for v in r).encode()
        total += int.from_bytes(hashlib.blake2b(text, digest_size=8).digest(), "little")
        n += 1
    return n, total % (1 << 64)
