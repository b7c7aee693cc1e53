"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The model test builds the program (sbt) on first use and runs one tiny
ETL backlog through `Executor.run` and through the traced calls.
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import landing  # noqa: E402
import run  # noqa: E402
import trace  # noqa: E402

TINY = landing.Sizing(3, 400, 2)


def digest(directory):
    """Hash of every file's name, bytes and mtime under a directory."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        h.update(name.encode())
        h.update(str(int(os.path.getmtime(path))).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=run.BUILD, prefix="test-")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def path(self, *parts):
        return os.path.join(self.dir, *parts)


class InputsAreSeeded(Scratch):
    def test_landing_same_seed_same_bytes(self):
        landing.Landing(5, TINY).write(self.path("a"))
        landing.Landing(5, TINY).write(self.path("b"))
        landing.Landing(6, TINY).write(self.path("c"))
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_corpus_same_seed_same_bytes(self):
        corpus.write(self.path("a"), 5, 300, 100)
        corpus.write(self.path("b"), 5, 300, 100)
        corpus.write(self.path("c"), 6, 300, 100)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_landing_shape(self):
        lnd = landing.Landing(5, TINY)
        files = [f for hour in lnd.hours for f in hour]
        self.assertEqual(len(files), TINY.hours * TINY.files_per_hour)
        good = [ev for f in files for _, ev in f if ev is not None]
        bad = [line for f in files for line, ev in f if ev is None]
        self.assertTrue(bad)
        # distinct events never share an entity key; repeats are the same line
        by_key = {}
        for ev in good:
            self.assertEqual(by_key.setdefault((ev.entity, ev.key), ev.line), ev.line)
        self.assertLess(len(by_key), len(good))
        for h in range(TINY.hours):
            for i in range(TINY.files_per_hour):
                t = landing.Landing.mtime(h, i)
                start = landing.micros(landing.hour_start(h)) // 1_000_000
                self.assertTrue(start <= t < start + 3600)

    def test_model_counts_each_key_once(self):
        lnd = landing.Landing(5, TINY)
        state = landing.expected_state(lnd)
        keys = {(ev.entity, ev.key) for hour in lnd.hours for f in hour
                for _, ev in f if ev is not None}
        self.assertEqual(sum(t["rows"] for t in state["tables"].values()), len(keys))
        self.assertEqual(len(state["ingestor"]), TINY.hours)
        self.assertEqual(len(state["handler"]), TINY.hours * 2)


class SpanArithmetic(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, lo, hi, **spark):
        return {"id": i, "parent": parent, "layer": layer, "name": layer,
                "start_s": lo, "end_s": hi, "spark": spark}

    def test_self_time_subtracts_children(self):
        spans = [
            self.span(1, 0, "jobs", 0.0, 10.0),
            self.span(2, 1, "meta", 1.0, 3.0),
            self.span(3, 1, "sinks", 4.0, 9.0, jobs=2, task_ms=700),
            self.span(4, 3, "meta", 5.0, 6.0, jobs=1),
        ]
        st = trace.self_times(spans)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[4], 1.0)
        layers = trace.layer_totals(spans)
        self.assertAlmostEqual(layers["meta"]["busy_s"], 3.0)
        self.assertEqual(layers["meta"]["calls"], 2)
        self.assertEqual(layers["meta"]["jobs"], 1)
        self.assertEqual(layers["sinks"]["task_ms"], 700)
        self.assertAlmostEqual(trace.coverage(spans, 10.0), 1.0)
        self.assertAlmostEqual(trace.coverage(spans, 20.0), 0.5)

    def test_overlapping_children_count_once(self):
        spans = [
            self.span(1, 0, "jobs", 0.0, 10.0),
            self.span(2, 1, "meta", 2.0, 6.0),
            self.span(3, 1, "meta", 4.0, 8.0),
            self.span(4, 1, "meta", 9.0, 12.0),
        ]
        self.assertAlmostEqual(trace.self_times(spans)[1], 3.0)

    def test_gaps_between_roots_lower_coverage(self):
        spans = [self.span(1, 0, "jobs", 0.0, 4.0), self.span(2, 0, "jobs", 6.0, 10.0)]
        self.assertAlmostEqual(trace.coverage(spans, 10.0), 0.8)


class Checks(unittest.TestCase):
    EXPECTED = {
        "tables": {"vehicles": {"rows": 5, "distinct_keys": 5, "hash": "ab"}},
        "ingestor": [[0, 2, False]],
        "handler": [[0, "vehicles", 5, False]],
    }

    def etl_problems(self, inserted, partial, malformed):
        state = {
            "tables": {"vehicles": dict(self.EXPECTED["tables"]["vehicles"],
                                        partial_rows=partial)},
            "ingestor": [[0, 2, False]],
            "handler": [[0, "vehicles", inserted, False]],
            "malformed": [[0, "vehicles", malformed]],
        }
        result = {"runs": [{"state": state, "thrown": 0}], "traced": []}
        problems, _, _, leaked = run.check_etl(result, {"expected": self.EXPECTED})
        return problems, leaked

    def test_leak_is_tolerated_not_required(self):
        self.assertEqual(self.etl_problems(6, 1, 1), ([], 1))
        self.assertEqual(self.etl_problems(5, 0, 1), ([], 0))
        self.assertEqual(self.etl_problems(5, 0, 0), ([], 0))

    def test_more_than_the_staged_malformed_rows_fails(self):
        self.assertTrue(self.etl_problems(7, 1, 1)[0])
        self.assertTrue(self.etl_problems(5, 2, 1)[0])
        self.assertTrue(self.etl_problems(4, 0, 1)[0])

    def test_a_query_that_throws_fails_the_curation_check(self):
        rows = {q: 10 for q in run.QUERIES}
        broken = dict(rows, docs_embed_knn=None)
        result = {"results": "", "oracle": {},
                  "runs": [{"rows": broken, "thrown": 1}, {"rows": broken, "thrown": 1}],
                  "traced": []}
        old = corpus.oracle_check
        corpus.oracle_check = lambda *_: {q: None for q in run.QUERIES}
        try:
            problems, attempted, failed, _ = run.check_curation(result, {"check_dir": ""})
            self.assertEqual((attempted, failed), (8, 2))
            self.assertEqual(len(problems), 2)
            result["runs"] = [{"rows": rows, "thrown": 0}]
            self.assertEqual(run.check_curation(result, {"check_dir": ""})[0], [])
        finally:
            corpus.oracle_check = old


class ModelMatchesExecutor(Scratch):
    def test_three_hours(self):
        classpath = run.build()
        lnd = landing.Landing(11, TINY)
        lnd.write(self.path("landing"))
        args = ["--workload", "etl", "--input", self.path("landing"),
                "--warmup", self.path("landing"), "--hours", str(TINY.hours),
                "--warmup-hours", "1"]
        result = run.run_jvm(classpath, args, self.path("work"), 0, traced=True)
        # one Executor.run backlog and one traced backlog
        self.assertEqual(len(result["runs"]), 1)
        self.assertEqual(len(result["traced"]), 1)
        problems, attempted, failed, _ = run.check_etl(
            result, {"expected": landing.expected_state(lnd)})
        self.assertEqual(problems, [])
        self.assertEqual(failed, 0)
        self.assertEqual(attempted, 2 * TINY.hours * 2)
        self.assertEqual(result["runs"][0]["state"], result["traced"][0]["state"])


if __name__ == "__main__":
    unittest.main()
