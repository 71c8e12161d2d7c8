"""Tests for tools/benchdiff.py: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchdiff  # noqa: E402

OLD = {"sf": "sf0.01", "iters": 3, "queries": {
    "q76": {"wall_s": 1.5, "jobs": 23, "stages": 23, "tasks": 25, "task_s": 0.25,
            "gc_s": 0.0, "shuffle_mb": 0.3, "spill_mb": 0, "failure": None},
    "q303": {"wall_s": 3.0, "jobs": 33, "stages": 39, "tasks": 85, "task_s": 1.5,
             "gc_s": 0.1, "shuffle_mb": 0.5, "spill_mb": 0, "failure": None},
    "q9": {"wall_s": 0.5, "jobs": 2, "stages": 2, "tasks": 4, "task_s": 0.1,
           "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0, "failure": None}}}
NEW = {"sf": "sf0.01", "iters": 3, "queries": {
    "q76": {"wall_s": 1.25, "jobs": 20, "stages": 21, "tasks": 25, "task_s": 0.5,
            "gc_s": 0.0, "shuffle_mb": 0.3, "spill_mb": 1.5, "failure": None},
    "q303": {"wall_s": None, "jobs": 12, "stages": 12, "tasks": 30, "task_s": 0.5,
             "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0,
             "failure": "java.lang.IllegalStateException: bad"}}}


class BenchDiffLayers(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def write(self, name, doc):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            json.dump(doc, f)
        return path

    def run_main(self, *argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            old_argv, sys.argv = sys.argv, ["benchdiff.py", *argv]
            try:
                benchdiff.main()
            finally:
                sys.argv = old_argv
        return out.getvalue()

    def test_layer_rows_are_per_query_counter_deltas(self):
        rows = benchdiff.layer_rows(NEW["queries"], OLD["queries"])
        self.assertEqual([q for q, _, _ in rows], ["q303", "q76"])
        q303, q76 = dict(rows[0][1]), dict(rows[1][1])
        self.assertEqual(q76, {"jobs": -3, "stages": -2, "tasks": 0, "task_s": 0.25,
                               "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 1.5})
        self.assertEqual(q303["jobs"], -21)
        self.assertIsNone(rows[1][2])
        self.assertEqual(rows[0][2], (None, "java.lang.IllegalStateException: bad"))

    def test_layer_files_print_wall_and_layer_diffs(self):
        text = self.run_main(self.write("new.layers.json", NEW),
                             self.write("old.layers.json", OLD))
        self.assertIn("old total:      5.0 s / 3 queries", text)
        self.assertIn("new total:      1.2 s / 1 queries", text)
        self.assertIn("-0.5 s removed (1)", text)  # q9; failed q303 is not "removed"
        self.assertIn("failed in new (null median): q303", text)
        self.assertIn("per-query layer deltas (new - old):", text)
        q76 = next(l for l in text.splitlines() if l.strip().startswith("q76"))
        self.assertEqual(q76.split()[1:], ["-3.000", "-2.000", "+0.000", "+0.250",
                                           "+0.000", "+0.000", "+1.500"])
        self.assertIn("failure: None -> java.lang.IllegalStateException: bad", text)


if __name__ == "__main__":
    unittest.main()
