"""Pure helpers of the benchmark: percentiles, interval arithmetic, span
self time, failure accounting and the canonical output digest."""
import hashlib
import math


def nearest_rank(values, q):
    """The q-th percentile by nearest rank: the ceil(q/100 * n)-th
    smallest value (1-based), at least the smallest."""
    s = sorted(values)
    k = max(1, math.ceil(q * len(s) / 100))
    return s[k - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count
    once."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, window):
    s, e = max(interval[0], window[0]), min(interval[1], window[1])
    return (s, e) if e > s else None


def self_time(span, children):
    """A span's duration minus the part of its interval that its
    children cover (children clipped to the span, overlaps once)."""
    win = (span["start"], span["end"])
    covered = [c for c in (clip((k["start"], k["end"]), win)
                           for k in children) if c]
    return (win[1] - win[0]) - union_length(covered)


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def account(items, checks):
    """Failure accounting. `items` are the run's item records (an
    `error` key marks a throw or time-out); `checks` maps item visit ->
    True/False for each output compared against its oracle. An item fails
    once, whether it threw, timed out or mismatched."""
    attempted = len(items)
    failed = sum(1 for it in items
                 if "error" in it or checks.get(it["visit"]) is False)
    return attempted, failed


def canon_digest(df):
    """Order-insensitive digest of a result: columns sorted by name, rows
    rendered cell by cell (floats by repr) and sorted, then hashed."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        return repr(v) if isinstance(v, float) else str(v)

    rows = sorted(tuple(cell(v) for v in row)
                  for row in df.itertuples(index=False))
    h = hashlib.md5()
    h.update(("\x1f".join(df.columns) + "\x1d").encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return f"{len(rows)}:{h.hexdigest()}"
