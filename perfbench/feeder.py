"""Paced single-thread feeder: one TCP connection, events sent on schedule.

The feeder listens; the program under test connects to it (the Spark
socket source is a client). Each event is stamped with its due time as
`ts_us`, an offset in microseconds from the feed's start, so inputs are
byte-identical for a seed. Sending is open loop: an event is due at its
scheduled time whether or not the program has kept up, and every event's
send time is recorded so the run can report how late the feeder ran.
"""

import socket
import time

import numpy as np

import gen

CHUNK = 512          # most events one sendall carries


def schedule(steps):
    """Due offsets (us) for consecutive (rate per second, seconds) steps.
    Returns (due_us array, [(lo, hi, rate)] per step)."""
    due, bounds, t, n = [], [], 0.0, 0
    for rate, secs in steps:
        k = int(rate * secs)
        due.append(t + np.arange(k, dtype=np.float64) * (1e6 / rate))
        t += secs * 1e6
        bounds.append((n, n + k, rate))
        n += k
    return np.concatenate(due).astype(np.int64), bounds


class Feeder:
    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.conn = None

    def accept(self, timeout, alive):
        """Wait for the program to connect; returns the accept time (epoch
        ms). `alive()` is polled so a program that dies first fails fast."""
        self.sock.settimeout(0.2)
        end = time.time() + timeout
        while time.time() < end:
            try:
                self.conn, _ = self.sock.accept()
                self.conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                return time.time() * 1000.0
            except socket.timeout:
                if not alive():
                    raise RuntimeError("program exited before connecting")
        raise RuntimeError("program did not connect to the feeder")

    def feed(self, due_us, vals, marks=(), probe=None):
        """Send every event at its due time. `probe()` is sampled just before
        the first event of each index in `marks` is sent, and once after the
        last. Returns (epoch of the feed in epoch ms, per-event send time as
        an offset in us, bytes sent, probe samples)."""
        n = len(due_us)
        sent = np.zeros(n, dtype=np.int64)
        marks = sorted(set(marks) | {n})
        samples = []
        t0 = time.time_ns() // 1000
        i, total, k = 0, 0, 0
        while i < n:
            if i == marks[k]:
                if probe:
                    samples.append(probe())
                k += 1
            now = time.time_ns() // 1000 - t0
            j = int(np.searchsorted(due_us, now, side="right"))
            if j <= i:
                time.sleep(min(0.002, (due_us[i] - now) / 1e6))
                continue
            j = min(j, i + CHUNK, marks[k])
            payload = "".join(gen.event_line(e, int(due_us[e]), vals)
                              for e in range(i, j)).encode()
            self.conn.sendall(payload)
            sent[i:j] = time.time_ns() // 1000 - t0
            total += len(payload)
            i = j
        if probe:
            samples.append(probe())
        return t0 / 1000.0, sent, total, samples

    def close(self):
        for s in (self.conn, self.sock):
            if s is not None:
                s.close()
