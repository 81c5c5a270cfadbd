"""Tests of the benchmark's own logic on synthetic progress records.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest
from datetime import datetime, timezone

import analysis as A


def progress(batch, start_ms, trigger_ms, start, end, rows=None, qid="q"):
    """A StreamingQueryProgress JSON as Spark prints it."""
    ts = datetime.fromtimestamp(start_ms / 1000.0, tz=timezone.utc)
    return {
        "id": qid, "batchId": batch,
        "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z",
        "numInputRows": rows if rows is not None else
        sum(end.values()) - sum((start or {}).values()),
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 50,
                       "commitOffsets": 10, "latestOffset": 5, "getBatch": 1},
        "sources": [{"startOffset": None if start is None else
                     {str(k): v for k, v in start.items()},
                     "endOffset": {str(k): v for k, v in end.items()},
                     "metrics": {"behindRecords": "0"}}],
    }


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_count(self):
        self.assertEqual(A.percentile([5, 1, 4, 2, 3], 0.5), (3, 5))
        self.assertEqual(A.percentile([5, 1, 4, 2, 3], 0.99), (5, 5))
        self.assertEqual(A.percentile([7], 0.99), (7, 1))

    def test_weights_count_as_samples(self):
        # 98 events at 1 s and 2 at 10 s: p99 lands on the slow pair
        samples = [(1.0, 98), (10.0, 2)]
        self.assertEqual(A.weighted_percentile(samples, 0.50), (1.0, 100))
        self.assertEqual(A.weighted_percentile(samples, 0.99), (10.0, 100))
        self.assertEqual(A.weighted_percentile(samples, 0.98), (1.0, 100))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            A.weighted_percentile([(1.0, 0)], 0.5)


class AttributionTest(unittest.TestCase):
    # two partitions; three ticks 100 ms apart, each adding 2 frames to
    # partition 0 and 1 frame to partition 1
    T0 = 1_700_000_000_000
    TICKS = [[T0, 3, 2, 1], [T0 + 100, 0, 4, 2], [T0 + 200, 7, 6, 3]]

    def test_frames_take_their_tick_due_time(self):
        prog = [
            # batch 0 ends at T0+150 with the first tick's frames and one
            # frame of the second tick on partition 0
            progress(0, self.T0 + 50, 100, None, {0: 3, 1: 1}),
            # batch 1 ends at T0+400 with the rest
            progress(1, self.T0 + 160, 240, {0: 3, 1: 1}, {0: 6, 1: 3}),
        ]
        groups = sorted(A.attribute_latency(self.TICKS, prog))
        got = [(round(l, 3), n, b, due - self.T0) for l, n, b, due in groups]
        self.assertEqual(got, [
            (0.05, 1, 0, 100),    # p0 frame 3: due T0+100, batch 0 ends T0+150
            (0.15, 1, 0, 0),      # p1 frame 1 and p0 frames 1-2 from tick 0
            (0.15, 2, 0, 0),
            (0.2, 1, 1, 200),     # tick 2 frames, batch 1 ends T0+400
            (0.2, 2, 1, 200),
            (0.3, 1, 1, 100),     # p0 frame 4 and p1 frame 2 from tick 1
            (0.3, 1, 1, 100),
        ])
        self.assertEqual(sum(g[1] for g in groups), 9)

    def test_summary_excludes_warmup_and_counts_samples(self):
        prog = [progress(0, self.T0 + 50, 100, None, {0: 3, 1: 1}),
                progress(1, self.T0 + 160, 240, {0: 3, 1: 1}, {0: 6, 1: 3})]
        groups = A.attribute_latency(self.TICKS, prog)
        s = A.latency_summary(groups, warmup_until_ms=self.T0 + 100)
        self.assertEqual((s["events"], s["batches"]), (6, 2))
        self.assertEqual((round(s["p50_s"], 3), round(s["p99_s"], 3)), (0.2, 0.3))

    def test_empty_and_repeated_batches_are_skipped(self):
        prog = [progress(0, self.T0, 10, None, {0: 0, 1: 0}, rows=0),
                progress(1, self.T0 + 50, 100, None, {0: 6, 1: 3}),
                progress(1, self.T0 + 50, 100, None, {0: 6, 1: 3})]
        self.assertEqual([p["batchId"] for p in A.data_batches(prog)], [1])
        self.assertEqual(sum(g[1] for g in A.attribute_latency(self.TICKS, prog)), 9)


class DrainWindowTest(unittest.TestCase):
    def test_timed_from_end_of_warmup_to_last_commit(self):
        t0 = 1_700_000_000_000
        bulk = {"warm_triggers": 1, "progress": [
            progress(0, t0, 1000, None, {0: 2}),
            progress(1, t0 + 1000, 500, {0: 2}, {0: 4}),
            progress(2, t0 + 1500, 400, {0: 4}, {0: 6})]}
        self.assertEqual(A.drain_window(bulk), (t0 + 1000, t0 + 1900))


class ClosedFormTest(unittest.TestCase):
    def test_norm_rows(self):
        for seed in range(4):
            for n in (0, 1, 5, 8, 1001):
                want = sum(max(1, (i + seed) % 4) for i in range(n))
                self.assertEqual(A.norm_rows_closed_form(n, seed), want)
        self.assertEqual(A.norm_rows_closed_form(400, 7) / 400, 1.75)


class ClassifyTest(unittest.TestCase):
    def test_sink_executions_by_path_and_order(self):
        def x(i, start, end, path=None):
            return {"id": i, "start": start, "end": end, "path": path,
                    "description": "graft-msgs"}
        sql = [x(1, 0, 100),                       # the foreachBatch root
               x(2, 1, 20), x(3, 21, 25),          # decode and dead-letter counts
               x(4, 26, 30), x(5, 31, 40, "/o/seg_0/msgs_norm"),
               x(6, 41, 45), x(7, 46, 60, "/o/seg_0/msgs"),
               x(8, 61, 62), x(9, 63, 70, "/o/seg_0/_agg"),
               x(10, 71, 80, "/o/_manifest")]
        got = [(l, e["id"]) for l, e in A.classify_sql({"sql": sql}, (0, 100))]
        self.assertEqual(got, [("decode", 2), ("decode", 3), ("norm", 4),
                               ("norm", 5), ("raw", 6), ("raw", 7),
                               ("runner", 8), ("runner", 9), ("manifest", 10)])


if __name__ == "__main__":
    unittest.main()
