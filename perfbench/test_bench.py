"""Tests of the benchmark's own arithmetic, its corpus generator and its
spec file. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import statistics
import tempfile
import unittest

import run
import stats


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertEqual(stats.tail(list(range(10))), (None, None))

    def test_highest_percentile_with_ten_beyond(self):
        # 26 samples: p61 has nearest rank 16 and 10 samples above it;
        # p62 would have rank 17 and only 9 above
        values = [float(v) for v in range(1, 27)]
        self.assertEqual(stats.tail(values), (61, 16.0))

    def test_twenty_samples_give_the_median_rank(self):
        self.assertEqual(stats.tail([float(v) for v in range(20, 0, -1)]), (50, 10.0))

    def test_large_sample_reaches_p90(self):
        p, v = stats.tail([float(v) for v in range(1, 101)])
        self.assertEqual((p, v), (90, 90.0))


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quartiles(self):
        values = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.9, 10.1, 10.8, 11.5]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.spread(values),
                               (q3 - q1) / statistics.median(values))

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(stats.worse_by(10.0, 12.0, "lower"), 0.2)
        self.assertAlmostEqual(stats.worse_by(10.0, 8.0, "lower"), -0.2)
        self.assertAlmostEqual(stats.worse_by(10.0, 8.0, "higher"), 0.2)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_and_clipped(self):
        spans = [
            {"id": 0, "parent": -1, "name": "run", "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "name": "query:q1", "start": 1.0, "end": 5.0},
            {"id": 2, "parent": 1, "name": "job", "start": 2.0, "end": 4.0},
            # overlaps the first job and runs past the query's end
            {"id": 3, "parent": 1, "name": "job", "start": 3.0, "end": 6.0},
        ]
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(spans, f)
        try:
            table = run.self_times(f.name)
        finally:
            os.unlink(f.name)
        self.assertEqual(table["run"][2], 6.0)
        self.assertEqual(table["query"][2], 1.0)
        self.assertEqual(table["job"], [2, 5.0, 5.0])


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_reported_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


@unittest.skipUnless(os.path.isdir(run.SF_DIR), "sf0.1 input tables not present")
class CorpusTest(unittest.TestCase):
    def digest(self, d):
        return {t: hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb").read()).hexdigest()
                for t in ("documents", "embeddings")}

    def test_same_seed_same_bytes_other_seed_other_corpus(self):
        import corpus
        os.makedirs(run.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
            a, secs_a, props_a = corpus.build(run.SF_DIR, os.path.join(tmp, "a"), 7)
            b, _, props_b = corpus.build(run.SF_DIR, os.path.join(tmp, "b"), 7)
            c, _, props_c = corpus.build(run.SF_DIR, os.path.join(tmp, "c"), 8)
            self.assertGreater(secs_a, 0.0)
            self.assertEqual(self.digest(a), self.digest(b))
            self.assertEqual(props_a, props_b)
            self.assertNotEqual(self.digest(a)["documents"], self.digest(c)["documents"])
            # a complete corpus is reused, not rebuilt
            again, secs, props = corpus.build(run.SF_DIR, os.path.join(tmp, "a"), 7)
            self.assertEqual((again, secs, props), (a, 0.0, props_a))
            hist = props_a["copies_histogram"]
            self.assertEqual(set(hist), {str(k) for k in corpus.COPY_WEIGHTS})
            self.assertEqual(props_a["docs"],
                             sum(int(k) * v for k, v in hist.items()))


if __name__ == "__main__":
    unittest.main()
