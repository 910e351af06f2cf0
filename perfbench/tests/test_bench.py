"""The benchmark's own tests: seeded generation, the freshness arithmetic
and the percentile rule.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import stats  # noqa: E402


def _write_all(root, seed):
    gen.write_masters(os.path.join(root, "masters"), seed)
    gen.write_tx_files(os.path.join(root, "tx"), seed, 3, 200)
    gen.write_tables(os.path.join(root, "tables"), seed)


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            _write_all(a, 7)
            _write_all(b, 7)
            names = _files(a)
            self.assertEqual(names, _files(b))
            self.assertEqual(len(names), 2 + 3 + 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tx_files(a, 1, 1, 200)
            gen.write_tx_files(b, 2, 1, 200)
            name = gen.tx_file_name(0)
            self.assertFalse(filecmp.cmp(os.path.join(a, name),
                                         os.path.join(b, name), shallow=False))

    def test_order_ids_encode_the_file_index(self):
        body = gen.tx_file_bytes(3, 42, 500).decode().splitlines()
        self.assertEqual(body[0], ",orderID,Customer_ID,Product_ID,quantity,date")
        ids = {int(line.split(",")[1]) for line in body[1:]}
        self.assertEqual({i // gen.ORDER_STRIDE for i in ids}, {42})


class FreshnessTest(unittest.TestCase):
    def test_freshness_runs_from_due_time_to_batch_end(self):
        # files due every 100 ms from t=1000; batch 0 commits files 0-1 at
        # 1250, batch 1 commits files 2-4 at 1700, file 5 never appears
        due = [1000 + 100 * i for i in range(6)]
        file_batch = {"0": [0], "1": [0], "2": [1], "3": [1], "4": [1]}
        visible = stats.visible_ms(6, file_batch, {0: 1250.0, 1: 1700.0})
        self.assertEqual(visible, [1250.0, 1250.0, 1700.0, 1700.0, 1700.0, None])
        self.assertEqual(stats.freshness_s(due, visible),
                         [0.25, 0.15, 0.5, 0.4, 0.3])

    def test_a_file_split_over_batches_is_not_visible(self):
        self.assertEqual(stats.visible_ms(1, {"0": [3, 4]}, {3: 1.0, 4: 2.0}), [None])

    def test_backlog_counts_arrived_but_not_visible_files(self):
        series = stats.backlog([0, 10, 20], [15, 15, None])
        self.assertEqual(series, [(0, 1), (10, 2), (15, 1), (15, 0), (20, 1)])

    def test_backlog_growth_separates_keeping_up_from_falling_behind(self):
        due = [100 * i for i in range(40)]
        steady = [d + 150 for d in due]          # every file visible 150 ms late
        behind = [d + 20 * i for i, d in enumerate(due)]  # lateness keeps rising
        grow_steady = stats.backlog_growth(stats.backlog(due, steady), 0, 3900)
        grow_behind = stats.backlog_growth(stats.backlog(due, behind), 0, 3900)
        self.assertLess(abs(grow_steady), 0.5)
        self.assertGreater(grow_behind, 3)

    def test_a_loader_at_70_percent_of_the_rate_fails_the_growth_check(self):
        # the live schedule's shape: 32 files, one every 250 ms
        due = [250 * i for i in range(32)]
        limit = stats.growth_limit(len(due))
        slow = _fifo_loader(due, 250 / 0.7)
        self.assertGreater(_growth(due, slow), limit)
        # back-to-back runs that take every arrived file, 0.6 s + 60 ms a
        # file: about twice the rate, the seed loader's headroom
        self.assertLess(_growth(due, _batch_loader(due, 600, 60)), limit)


def _growth(due, visible):
    return stats.backlog_growth(stats.backlog(due, visible), due[0], due[-1])


def _fifo_loader(due, service_ms):
    """Visible times under a loader that commits one file each service_ms,
    in arrival order."""
    out, free = [], due[0]
    for d in due:
        free = max(free, d) + service_ms
        out.append(free)
    return out


def _batch_loader(due, run_ms, per_file_ms):
    """Visible times under back-to-back loader runs, each committing every
    file that had arrived when it started."""
    out, t, i = [], due[0], 0
    while i < len(due):
        ready = [d for d in due[i:] if d <= t]
        if not ready:
            t = due[i]
            continue
        t += run_ms + per_file_ms * len(ready)
        out += [t] * len(ready)
        i += len(ready)
    return out


def _min_samples(p):
    """Fewest samples for which a p-th percentile is reported."""
    n = 1
    while stats.percentile(range(n), p) is None:
        n += 1
    return n


class PercentileRuleTest(unittest.TestCase):
    def test_ten_samples_must_lie_beyond_the_percentile(self):
        self.assertEqual(_min_samples(50), 20)
        self.assertEqual(_min_samples(90), 100)
        self.assertEqual(_min_samples(99), 1000)
        self.assertIsNone(stats.percentile(range(19), 50))
        self.assertIsNone(stats.percentile(range(99), 90))

    def test_reported_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(sum(x > stats.percentile(xs, 90) for x in xs), 10)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "run", "start_ms": 0, "end_ms": 1000},
            {"id": 2, "parent": 1, "name": "a", "start_ms": 100, "end_ms": 400},
            {"id": 3, "parent": 1, "name": "b", "start_ms": 300, "end_ms": 500},
        ]
        self.assertEqual(stats.self_times(spans), {"run": 0.6, "a": 0.3, "b": 0.2})


if __name__ == "__main__":
    unittest.main()
