"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402


def _digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_etl_drops_are_deterministic_per_seed(self):
        tables = gen.build_tables()
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ea = gen.etl_drops(a, 7, orders=1000, tables=tables)
            eb = gen.etl_drops(b, 7, orders=1000, tables=tables)
            ec = gen.etl_drops(c, 8, orders=1000, tables=tables)
            self.assertEqual(ea, eb)
            self.assertEqual(_digest(a), _digest(b))
            self.assertNotEqual(_digest(a), _digest(c))

    def test_etl_expected_counts_match_the_files(self):
        tables = gen.build_tables()
        with tempfile.TemporaryDirectory() as d:
            exp = gen.etl_drops(d, 3, orders=1500, tables=tables)
            for entity in ("orders", "lineitem"):
                lines = []
                for f in sorted(os.listdir(os.path.join(d, entity))):
                    with open(os.path.join(d, entity, f)) as fh:
                        lines += fh.read().splitlines()
                good = []
                for ln in lines:
                    try:
                        good.append(json.loads(ln))
                    except ValueError:
                        pass
                self.assertEqual(exp[entity]["lines"], len(lines))
                self.assertEqual(exp[entity]["err"], len(lines) - len(good))
                self.assertGreater(exp[entity]["err"], 0)
                payloads = {json.dumps({k: v for k, v in g.items() if k != "seq"},
                                       sort_keys=True) for g in good}
                self.assertEqual(exp[entity]["out"], len(payloads))
                self.assertLess(len(payloads), len(good))  # re-deliveries exist

    def test_ingest_drops_are_deterministic_and_keep_originals(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ea = gen.ingest_drops(a, 5, drops=3, per_drop=40)
            eb = gen.ingest_drops(b, 5, drops=3, per_drop=40)
            self.assertEqual(ea, eb)
            self.assertEqual(_digest(a), _digest(b))
            docs = []
            for k in range(3):
                with open(os.path.join(a, f"drop-{k}.ndjson")) as fh:
                    docs += [json.loads(ln) for ln in fh]
            self.assertEqual([d["doc_id"] for d in docs], list(range(120)))
            original = {d["text"]: d["doc_id"] for d in docs if d["doc_id"] in ea["keep"]}
            self.assertEqual(len(original), len(ea["keep"]))
            for d in docs:
                if d["doc_id"] not in ea["keep"]:
                    # a near-dup is an earlier original plus one token
                    self.assertLess(original[d["text"].rsplit(" ", 1)[0]], d["doc_id"])

    def test_tables_are_deterministic(self):
        a, b = gen.build_tables(), gen.build_tables()
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertEqual(a["lineitem"].num_rows, 600000)


class SummaryTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(run.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(run.median([]), 0.0)

    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [
            {"id": 0, "name": "pass", "parent": -1, "pass": 1, "start_s": 0.0, "end_s": 10.0},
            {"id": 1, "name": "query.a", "parent": 0, "pass": 1, "start_s": 1.0, "end_s": 4.0},
            {"id": 2, "name": "queries.build", "parent": 1, "pass": 1, "start_s": 1.0, "end_s": 2.0},
            {"id": 3, "name": "queries.action", "parent": 1, "pass": 1, "start_s": 2.5, "end_s": 4.0},
            {"id": 4, "name": "query.b", "parent": 0, "pass": 1, "start_s": 5.0, "end_s": 9.0},
        ]
        st = run.self_times(spans)
        self.assertAlmostEqual(st["pass"], 3.0)     # 10 - (3 + 4)
        self.assertAlmostEqual(st["query"], 0.5 + 4.0)
        self.assertAlmostEqual(st["queries.build"], 1.0)
        self.assertAlmostEqual(st["queries.action"], 1.5)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_self_time_merges_overlapping_children(self):
        spans = [
            {"id": 0, "name": "p", "parent": -1, "pass": 1, "start_s": 0.0, "end_s": 4.0},
            {"id": 1, "name": "c", "parent": 0, "pass": 1, "start_s": 1.0, "end_s": 3.0},
            {"id": 2, "name": "c", "parent": 0, "pass": 1, "start_s": 2.0, "end_s": 3.5},
        ]
        self.assertAlmostEqual(run.self_times(spans)["p"], 1.5)


@unittest.skipUnless(os.environ.get("PERFBENCH_JVM_TESTS") == "1",
                     "set PERFBENCH_JVM_TESTS=1 to build graft and run the JVM checks")
class FingerprintTest(unittest.TestCase):
    def test_fingerprint_is_order_insensitive_and_value_sensitive(self):
        res = run.run_once("selftest", 1, 0, 0, run.build())
        self.assertEqual(res["attempted"], 4)
        self.assertEqual(res["failed"], 0, res["failures"])


if __name__ == "__main__":
    unittest.main()
