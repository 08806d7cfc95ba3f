"""Tests of the benchmark's own math.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import analyze  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(analyze.percentile([3, 1, 2], 50), 2)
        self.assertEqual(analyze.percentile([0, 10], 95), 9.5)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(analyze.tail_percentile(200), 95)
        self.assertEqual(analyze.tail_percentile(199), 90)
        self.assertEqual(analyze.tail_percentile(1000), 99)
        self.assertEqual(analyze.tail_percentile(10000), 99.9)
        self.assertEqual(analyze.tail_percentile(20), 50)
        self.assertIsNone(analyze.tail_percentile(19))


class SpanSelfTime(unittest.TestCase):
    def test_subtracts_union_of_children_clipped_to_span(self):
        # children cover [1,5] and [8,10] of [0,10]: overlap and overhang
        self.assertEqual(analyze.self_time(0, 10, [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children_is_whole_span(self):
        self.assertEqual(analyze.self_time(2, 7, []), 5)


def write_log(path, entries):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


class FileBatchAttribution(unittest.TestCase):
    def setUp(self):
        self.ckpt = tempfile.mkdtemp()
        topics = "/w/live"

        def entry(topic, name, log_id):
            return {"path": f"file://{topics}/{topic}/{name}", "timestamp": 0,
                    "batchId": log_id}
        # source 0 = listings: log ids 0 (seed), 1, 2; ids 0-1 rolled up
        # into a compact file, as Spark does every tenth log id
        write_log(os.path.join(self.ckpt, "sources", "0", "1.compact"),
                  [entry("listings", "seed-0000.json", 0),
                   entry("listings", "live-000001.json", 1)])
        write_log(os.path.join(self.ckpt, "sources", "0", "2"),
                  [entry("listings", "live-000002.json", 2),
                   entry("listings", "live-000003.json", 2)])
        # source 1 = agents: log ids 0 (seed), 1 (listed during batch 2)
        write_log(os.path.join(self.ckpt, "sources", "1", "0"),
                  [entry("agents", "seed-0000.json", 0)])
        write_log(os.path.join(self.ckpt, "sources", "1", "1"),
                  [entry("agents", "live-000002.json", 1)])
        meta = {"batchWatermarkMs": 0}
        for batch, offs in ((0, (0, 0)), (1, (1, 0)), (2, (2, 1))):
            write_log(os.path.join(self.ckpt, "offsets", str(batch)),
                      [meta] + [{"logOffset": o} for o in offs])
        for batch, t in ((0, 100.0), (1, 105.0)):
            p = os.path.join(self.ckpt, "commits", str(batch))
            write_log(p, [{"nextBatchWatermarkMs": 0}])
            os.utime(p, (t, t))

    def tearDown(self):
        shutil.rmtree(self.ckpt)

    def test_maps_source_log_ids_to_micro_batches_through_offsets(self):
        self.assertEqual(analyze.source_file_batches(self.ckpt), {
            ("listings", "seed-0000.json"): 0,
            ("listings", "live-000001.json"): 1,
            ("listings", "live-000002.json"): 2,
            ("listings", "live-000003.json"): 2,
            ("agents", "seed-0000.json"): 0,
            ("agents", "live-000002.json"): 2,
        })

    def test_latency_runs_to_the_consuming_batch_commit(self):
        self.assertEqual(analyze.commit_times(self.ckpt), {0: 100.0, 1: 105.0})
        gen_files = [
            {"topic": "listings", "file": "live-000001.json", "due": [101.0, 102.5]},
            # consumed by batch 2, which never committed
            {"topic": "agents", "file": "live-000002.json", "due": [103.0]},
            # never listed by any batch
            {"topic": "media", "file": "live-000003.json", "due": [104.0, 104.1]},
        ]
        done, lost = analyze.attribute(gen_files,
                                       analyze.source_file_batches(self.ckpt),
                                       analyze.commit_times(self.ckpt))
        self.assertEqual(done, [(101.0, 1, 4.0), (102.5, 1, 2.5)])
        self.assertEqual(lost, 3)


class CorrectnessCheck(unittest.TestCase):
    def result(self, **over):
        r = {"missing_rows": 0, "extra_rows": 0,
             "expected": {"rows": 5, "hash": "123"},
             "actual": {"rows": 5, "hash": "123"}}
        r.update(over)
        return r

    def test_matching_sink_passes(self):
        self.assertEqual(analyze.stream_failures(self.result(), 5), {})

    def test_wrong_reference_fingerprint_fails(self):
        fails = analyze.stream_failures(
            self.result(expected={"rows": 5, "hash": "124"}), 5)
        self.assertEqual(fails, {"fingerprint": 1})

    def test_row_differences_and_planted_count_fail(self):
        fails = analyze.stream_failures(
            self.result(missing_rows=1, actual={"rows": 4, "hash": "123"}), 5)
        self.assertEqual(fails, {"rows_differ": 1, "fingerprint": 1, "row_count": 1})


class Throughput(unittest.TestCase):
    def test_delivered_rate_counts_commits_inside_the_window(self):
        # commits: batch 0 at 1 (before the window), 1 at 2, 2 (20 rows)
        # at 4, 3 (20 rows) at 6, 4 at 8.5 (after the window ends at 7)
        samples = ([(0.5, 0, 0.5), (1.0, 1, 1.0)] + [(2.0, 2, 2.0)] * 20
                   + [(4.0, 3, 2.0)] * 20 + [(6.5, 4, 2.0)] * 5)
        self.assertEqual(analyze.delivered_rows_s(samples, (1.5, 7.0)), 10.0)
        # only batch 1 commits inside (1.5, 2.5): the drain's commits stand in
        self.assertEqual(analyze.delivered_rows_s(samples, (1.5, 2.5)), 45 / 6.5)



def open_loop(rate, durations):
    """Samples of an open loop at ``rate`` events/s into a zero-interval
    trigger whose successive batches take ``durations`` s: a batch
    consumes every event that fell due before it started."""
    commits = [0.0]
    for d in durations:
        commits.append(commits[-1] + d)
    samples, due = [], 0.5 / rate
    for b in range(2, len(commits)):
        while due <= commits[b - 1]:
            samples.append((due, b, commits[b] - due))
            due += 1.0 / rate
    return samples


class Backlog(unittest.TestCase):
    def test_steady_batches_deliver_the_offered_rate(self):
        samples = open_loop(20, [4.0] * 8)
        self.assertAlmostEqual(analyze.delivered_rows_s(samples, (6, 26)), 20, delta=0.5)

    def test_batches_growing_by_a_third_fall_below_the_bound(self):
        # each batch 4/3 the length of the one before: the backlog grows
        samples = open_loop(20, [2.0 * (4 / 3) ** k for k in range(10)])
        self.assertLess(analyze.delivered_rows_s(samples, (6, 26)), 0.8 * 20)


if __name__ == "__main__":
    unittest.main()
