"""Tests for the benchmark's own arithmetic.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics as M  # noqa: E402


def trig(batch, start, total, add=None, start_offset=None, end_offset=None):
    return {"batch": batch, "start": start,
            "durations": {"triggerExecution": total, "addBatch": total if add is None else add},
            "start_offset": start_offset, "end_offset": end_offset, "input_rows": 1}


def job(desc, start, end, tasks=1):
    return {"desc": desc, "start": start, "end": end, "tasks": tasks}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.nearest_rank(xs, 0.5), 50)
        self.assertEqual(M.nearest_rank(xs, 0.9), 90)
        self.assertEqual(M.nearest_rank([7], 0.9), 7)
        self.assertIsNone(M.nearest_rank([], 0.5))

    def test_tail_needs_ten_samples_beyond(self):
        # p90 of 100 samples leaves exactly 10 beyond it: reported
        self.assertEqual(M.tail_percentile(list(range(100)), 0.9), 89)
        # 99 samples leave 9 beyond: not reported
        self.assertIsNone(M.tail_percentile(list(range(99)), 0.9))
        # p50 needs only 20 samples
        self.assertEqual(M.tail_percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(M.tail_percentile(list(range(1, 20)), 0.5))

    def test_unsorted_input(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(M.tail_percentile(xs, 0.9), 5)

    def test_warm_triggers_skip_each_querys_first(self):
        ts = [dict(trig(0, 0, 4000), query="a"), dict(trig(1, 10, 1500), query="a"),
              dict(trig(2, 20, 0), query="a", input_rows=0),
              dict(trig(3, 30, 600), query="b"), dict(trig(4, 40, 1700), query="b")]
        self.assertEqual(sorted(M.warm_triggers(ts)), [1500, 1700])


class IntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(M.union_length([(0, 10), (20, 25)]), 15)
        self.assertEqual(M.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(M.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(M.union_length([(5, 15), (0, 10), (15, 20)]), 20)
        self.assertEqual(M.union_length([]), 0)

    def test_clipped_to_window(self):
        self.assertEqual(M.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(M.union_length([(0, 4)], 5, 25), 0)

    def test_span_self_time(self):
        spans = [
            {"id": 1, "parent": 0, "name": "root", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "name": "a", "start": 10, "end": 40},
            {"id": 3, "parent": 1, "name": "b", "start": 30, "end": 50},
            {"id": 4, "parent": 2, "name": "c", "start": 15, "end": 20},
        ]
        self_t = M.self_times(spans)
        self.assertEqual(self_t[1], 100 - 40)  # children cover 10..50
        self.assertEqual(self_t[2], 30 - 5)
        self.assertEqual(self_t[3], 20)
        self.assertEqual(self_t[4], 5)


class TriggerBreakdown(unittest.TestCase):
    def test_jobs_split_the_trigger(self):
        t = trig(3, 1000, 500, add=450)
        jobs = [job("cdc batch 3: preamble", 1010, 1100, tasks=4),
                job("", 1050, 1150, tasks=2),                      # unlabelled Spark job
                job("cdc batch 3: stage db.t", 1300, 1400, tasks=8),
                job("bi bi_lookup", 1200, 1250),                   # the reader's job
                job("cdc batch 2: stage db.t", 900, 990)]          # previous trigger
        b = M.trigger_breakdown(t, jobs)
        self.assertEqual(b["bookkeeping"], 50)
        self.assertEqual(b["job"], 140 + 100)
        self.assertEqual(b["driver_self"], 450 - 240)
        self.assertTrue(M.breakdown_holds(b))
        self.assertEqual(b["jobs"], 3)
        self.assertEqual(b["tasks"], 14)

    def test_job_outside_add_batch_breaks_the_split(self):
        # addBatch is 1100..1400; a 200 ms job before it (as in
        # getBatch) pushes job time past addBatch and driver self below 0
        t = trig(3, 1000, 500, add=300)
        jobs = [job("", 1020, 1220), job("cdc batch 3: stage db.t", 1150, 1350)]
        b = M.trigger_breakdown(t, jobs)
        self.assertEqual(b["job"], 330)
        self.assertEqual(b["driver_self"], -30)
        self.assertFalse(M.breakdown_holds(b))

    def test_phase_windows(self):
        t = trig(3, 1000, 500)
        jobs = [job("cdc batch 3: preamble", 1010, 1100),
                job("cdc batch 3: preamble", 1150, 1200),
                job("cdc batch 3: stage db.a", 1300, 1350),
                job("cdc batch 3: stage db.b", 1310, 1420)]
        self.assertEqual(M.phase_windows(t, jobs), (290, 120))

    def test_replayed_batch_ignores_crashed_attempt(self):
        # batch 4 crashed after its jobs ran; the restarted trigger
        # counts only the jobs inside its own window
        t = trig(4, 5000, 200, add=150)
        jobs = [job("cdc batch 4: preamble", 3000, 3500),
                job("cdc batch 4: preamble", 5010, 5060)]
        self.assertEqual(M.trigger_breakdown(t, jobs)["job"], 50)


class Freshness(unittest.TestCase):
    def test_from_offsets_and_schedule(self):
        # files 1..4 scheduled every 100 ms; file 0 is the warm-up file
        schedule = [1000, 1100, 1200, 1300]
        triggers = [trig(0, 500, 300, start_offset=None, end_offset="1"),
                    trig(1, 1150, 200, start_offset="1", end_offset="3"),  # files 1, 2
                    trig(2, 1400, 250, start_offset="3", end_offset="5")]  # files 3, 4
        self.assertEqual(M.freshness(schedule, triggers, first=1),
                         [1350 - 1000, 1350 - 1100, 1650 - 1200, 1650 - 1300])

    def test_uncommitted_file_is_none(self):
        self.assertEqual(M.freshness([0, 10], [trig(0, 5, 5, end_offset="1")]), [10, None])

    def test_trigger_order_not_list_order(self):
        triggers = [trig(1, 200, 10, start_offset="1", end_offset="2"),
                    trig(0, 100, 10, end_offset="1")]
        self.assertEqual(M.freshness([50, 60], triggers), [60, 150])

    def test_backlog_and_flatness(self):
        written = [100, 200, 300, 400]
        triggers = [trig(0, 250, 10, end_offset="2"),
                    trig(1, 450, 10, start_offset="2", end_offset="4")]
        self.assertEqual(M.backlog(written, triggers), [2, 2])
        self.assertEqual(M.backlog(written, triggers, first=1), [3, 3])

    def test_backlog_growth(self):
        self.assertFalse(M.backlog_growing([23, 27, 34, 32, 33]))  # levels off
        self.assertFalse(M.backlog_growing([30, 32, 35]))          # rises under 25%
        self.assertFalse(M.backlog_growing([40, 30, 20]))
        self.assertTrue(M.backlog_growing([25, 30, 44, 60]))
        self.assertTrue(M.backlog_growing([10, 12, 40, 80]))
        self.assertTrue(M.backlog_growing([10, 12]))               # too few to tell

    def test_geomean(self):
        self.assertAlmostEqual(M.geomean([1, 100]), 10)
        self.assertAlmostEqual(M.geomean([4, 4, 4]), 4)
        self.assertIsNone(M.geomean([]))


if __name__ == "__main__":
    unittest.main()
