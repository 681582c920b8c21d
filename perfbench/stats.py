"""The benchmark's arithmetic, kept apart so the self-tests can pin it."""

import numpy as np


def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    if len(v) == 0:
        raise ValueError("percentile of no values")
    pos = (len(v) - 1) * q / 100.0
    lo = int(np.floor(pos))
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def median(values):
    return percentile(values, 50)


def lateness_ms(due_us, sent_us):
    """How late each event was sent, in ms (never negative: the feeder
    only sends an event once it is due)."""
    return np.maximum(np.asarray(sent_us) - np.asarray(due_us), 0) / 1000.0


def backlog(due_ms, done_ms, at_ms):
    """Events due but not yet published at each time in `at_ms`."""
    due = np.sort(np.asarray(due_ms))
    done = np.sort(np.asarray(done_ms))
    at = np.asarray(at_ms)
    return (np.searchsorted(due, at, side="right")
            - np.searchsorted(done, at, side="right"))


def step_ok(lat_ms, due_ms, done_ms, step_end_ms, rate, limit_ms):
    """A ladder step meets the limit when its p99 latency is within it and
    the backlog left at the step's end is no more than the limit allows at
    that rate (a growing backlog leaves more)."""
    left = backlog(due_ms, done_ms, [step_end_ms])[0]
    return percentile(lat_ms, 99) <= limit_ms and left <= rate * limit_ms / 1000.0


def self_time(span, children):
    """Span duration minus the part of it covered by child spans."""
    s, e = span
    cut = sorted((max(a, s), min(b, e)) for a, b in children if b > s and a < e)
    covered, cur_s, cur_e = 0, None, None
    for a, b in cut:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (e - s) - covered
