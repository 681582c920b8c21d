"""Self-tests of the benchmark's checkers and arithmetic, on planted faults.

    python3 perfbench/selftest.py

run.py also runs them before every measurement, so a checker that stops
catching a fault stops the benchmark. Files go under the build directory.
"""

import os
import shutil
import sys
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import feeder  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from harness import build  # noqa: E402

SCRATCH = os.path.join(build.build_dir(), "selftest")


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def write_messages(d, tables):
    for i, t in enumerate(tables):
        sink = pa.BufferOutputStream()
        with ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        with open(os.path.join(d, f"msg-{i:04d}.arrow"), "wb") as f:
            f.write(sink.getvalue().to_pybytes())


def trip_table(cols, rows, seqs):
    data = {}
    for f in gen.TRIP_FIELDS:
        v = cols[f][rows]
        data[f] = pa.array(v.tolist() if v.ndim == 2 else v)
    data["seq"] = pa.array(np.asarray(seqs, dtype=np.int64))
    return pa.table(data)


class TripChecker(unittest.TestCase):
    N = 40

    def setUp(self):
        self.cols = gen.trip_columns(7, self.N)
        self.digest = gen.row_digest(gen.trip_frame(self.cols))

    def check(self, parts, max_rows=16, max_ipc=1 << 20):
        d = fresh("trip")
        write_messages(d, [trip_table(self.cols, r, s) for r, s in parts])
        return checks.trip(checks.read_messages(d), self.digest, max_rows, max_ipc)

    def good_parts(self):
        idx = np.arange(self.N)
        return [(idx[i:i + 10], idx[i:i + 10]) for i in range(0, self.N, 10)]

    def test_correct_output_passes(self):
        self.assertEqual(self.check(self.good_parts()), [])

    def test_catches_a_drop(self):
        parts = self.good_parts()
        parts[1] = (parts[1][0][1:], parts[1][1][1:])
        self.assertTrue(self.check(parts))

    def test_catches_a_duplicate(self):
        parts = self.good_parts() + [(np.array([3]), np.array([3]))]
        self.assertTrue(self.check(parts))

    def test_catches_a_duplicate_row_with_fresh_seq(self):
        idx = np.arange(self.N)
        parts = [(np.append(idx[:-1], 0), idx)]
        self.assertTrue(any("digest" in p for p in self.check(parts, max_rows=64)))

    def test_catches_an_oversize_message(self):
        idx = np.arange(self.N)
        self.assertTrue(any("rows >" in p for p in self.check([(idx, idx)])))
        self.assertTrue(any("bytes >" in p for p in
                            self.check(self.good_parts(), max_ipc=1000)))


class EventsChecker(unittest.TestCase):
    N = 30

    def setUp(self):
        self.due = np.arange(self.N, dtype=np.int64) * 1000
        self.vals = gen.event_values(3, self.N)

    def table(self, ids):
        users, types, cents = (np.asarray(v) for v in self.vals)
        return pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts_us": pa.array(self.due[ids]),
            "user_id": pa.array(users[ids]),
            "event_type": pa.array([gen.EVENT_TYPES[t] for t in types[ids]]),
            "value": pa.array(cents[ids] / 100)})

    def check(self, id_groups, max_rows=10):
        d = fresh("events")
        write_messages(d, [self.table(np.asarray(g)) for g in id_groups])
        bad, failed, _ = checks.events(checks.read_messages(d), self.N, self.due,
                                       self.vals, max_rows)
        return bad, failed

    def test_correct_output_passes(self):
        self.assertEqual(self.check([range(0, 10), range(10, 20), range(20, 30)]), ([], 0))

    def test_catches_a_drop(self):
        bad, failed = self.check([range(0, 10), range(10, 19), range(20, 30)])
        self.assertEqual(failed, 1)

    def test_catches_a_duplicate(self):
        bad, failed = self.check([range(0, 10), range(10, 20), range(20, 30), [5]])
        self.assertEqual(failed, 1)

    def test_catches_an_oversize_message(self):
        bad, _ = self.check([range(0, 15), range(15, 30)])
        self.assertTrue(any("rows >" in p for p in bad))

    def test_catches_a_changed_value(self):
        users = list(self.vals[0])
        users[4] += 1
        good = self.vals
        self.vals = (users, good[1], good[2])
        d = fresh("events")
        write_messages(d, [self.table(np.arange(self.N))])
        bad, failed, _ = checks.events(checks.read_messages(d), self.N, self.due,
                                       good, 64)
        self.assertEqual(failed, 1)


class CurateChecker(unittest.TestCase):
    PLANTS = {"exact": [[0, 1, 2]], "near": [[3, 4]], "overlap": [5]}

    def check(self, kept, memo_builds=1):
        d = fresh("curate")
        ids = sorted(kept)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "split": pa.array([kept[i] for i in ids])}),
                       os.path.join(d, "part-0.parquet"))
        return checks.curate(d, self.PLANTS, memo_builds)

    def test_correct_output_passes(self):
        self.assertEqual(self.check({0: "train", 3: "val", 6: "test"}), [])

    def test_catches_a_dropped_group(self):
        self.assertTrue(self.check({3: "val", 6: "test"}))

    def test_catches_a_kept_duplicate(self):
        self.assertTrue(self.check({0: "train", 1: "train", 3: "val"}))

    def test_catches_an_eval_overlap_survivor(self):
        self.assertTrue(self.check({0: "train", 3: "val", 5: "test"}))

    def test_catches_a_near_duplicate_split_leak(self):
        self.assertTrue(self.check({0: "train", 3: "val", 4: "test"}))

    def test_reused_input_counts_as_failed(self):
        self.assertTrue(self.check({0: "train", 3: "val"}, memo_builds=0))


class Maths(unittest.TestCase):
    def test_percentiles(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 99), 99.01)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertAlmostEqual(stats.percentile(xs[::-1], 0), 1)

    def test_lateness(self):
        late = stats.lateness_ms([0, 1000, 2000], [500, 1000, 7000])
        self.assertEqual(late.tolist(), [0.5, 0.0, 5.0])

    def test_backlog(self):
        # due at 0, 10, 20 ms; published at 15, 15, 40 ms
        b = stats.backlog([0, 10, 20], [15, 15, 40], [5, 15, 30, 40])
        self.assertEqual(b.tolist(), [1, 0, 1, 0])

    def test_step_ok(self):
        due = np.arange(100) * 10.0
        self.assertTrue(stats.step_ok(np.full(100, 200.0), due, due + 200, 990, 100, 1000))
        self.assertFalse(stats.step_ok(np.full(100, 2000.0), due, due + 2000, 990, 100, 1000))
        # latency grows with each event, and so does the backlog
        grow = due + np.arange(100) * 8.0
        self.assertFalse(stats.step_ok(grow - due, due, grow, 990, 100, 400))

    def test_schedule(self):
        due, bounds = feeder.schedule([(1000, 2), (4000, 0.5)])
        self.assertEqual(bounds, [(0, 2000, 1000), (2000, 4000, 4000)])
        self.assertEqual(due[1], 1000)
        self.assertEqual(due[2000], 2_000_000)
        self.assertEqual(due[-1], 2_000_000 + 1999 * 250)

    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_generators_are_seeded(self):
        a, b = gen.trip_columns(5, 10), gen.trip_columns(5, 10)
        self.assertEqual(gen.trip_lines(a, 0, 10), gen.trip_lines(b, 0, 10))
        self.assertNotEqual(gen.trip_lines(a, 0, 10),
                            gen.trip_lines(gen.trip_columns(6, 10), 0, 10))
        self.assertEqual(gen.event_values(5, 10), gen.event_values(5, 10))


def run():
    """Run every self-test quietly; True when all pass."""
    suite = unittest.defaultTestLoader.loadTestsFromModule(sys.modules[__name__])
    with open(os.devnull, "w") as devnull:
        result = unittest.TextTestRunner(stream=devnull, verbosity=0).run(suite)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for test, err in result.failures + result.errors:
        sys.stderr.write(f"self-test failed: {test}\n{err}\n")
    return result.wasSuccessful()


if __name__ == "__main__":
    unittest.main()
