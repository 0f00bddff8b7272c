"""Pure helpers of the benchmark: output digests, latency summaries and the
self-time arithmetic of a span tree. Nothing here touches Spark, so the
helpers are tested on their own (``perfbench/test_perfbench.py``)."""

from __future__ import annotations

import hashlib


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: the sorted column names, the
    row count, and a hash of the sorted ``repr`` of every row as the
    repository's oracle tests normalize it
    (``tests/conftest.py:normalize_rows``). Equal normalized row multisets
    give equal digests, so a Spark result and its DuckDB oracle are
    compared without holding both in memory."""
    from tests.conftest import normalize_rows

    h = hashlib.blake2b(digest_size=16)
    h.update("\n".join(sorted(map(repr, normalize_rows(cols, rows)))).encode())
    return f"{','.join(sorted(cols))}|{len(rows)}|{h.hexdigest()}"


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least ten
    samples strictly beyond it. With ten samples or fewer no percentile
    qualifies; the maximum is returned with percentile 100 so the report
    shows the tail is not resolved at this sample count."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total time and total self time."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        t = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        t["calls"] += 1
        t["total_s"] += s["end"] - s["start"]
        t["self_s"] += selfs[s["id"]]
    return out
