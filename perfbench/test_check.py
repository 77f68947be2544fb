"""Tests of the benchmark's own checks and generators (no JVM needed).

  python3 perfbench/test_check.py
"""
import os
import struct
import sys
import tempfile
import unittest
import zlib

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


def _png(path, w=120, h=110, truncate=False):
    def chunk(kind, body):
        return struct.pack(">I", len(body)) + kind + body + struct.pack(
            ">I", zlib.crc32(kind + body) & 0xffffffff)
    raw = b"".join(b"\x00" + b"\x80" * (w * 3) for _ in range(h - (1 if truncate else 0)))
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    with open(path, "wb") as f:
        f.write(data)


class OracleCheckTest(unittest.TestCase):
    """A query result is checked against its DuckDB oracle answer; a
    corrupted expected answer must be reported."""

    def setUp(self):
        import duckdb
        self.tmp = tempfile.TemporaryDirectory()
        self.results = os.path.join(self.tmp.name, "results")
        os.makedirs(os.path.join(self.results, "q_demo"))
        duckdb.connect().execute(
            "COPY (SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', NULL), (3, 'c', 'NaN'::DOUBLE))"
            " t(k, s, v)) TO '%s' (FORMAT PARQUET)"
            % os.path.join(self.results, "q_demo", "part-0.parquet"))
        self.oracle = check.Oracle(self.tmp.name, os.path.join(self.tmp.name, "cache"), "/nonexistent")

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, sql):
        return check.check_queries(self.oracle, self.results, {"q_demo": sql}, ["q_demo"])

    def test_matching_answer_passes(self):
        # column order and row order do not matter; NaN equals NaN
        sql = "SELECT * FROM (VALUES (0.5, 1, 'a'), ('NaN'::DOUBLE, 3, 'c'), (NULL, 2, 'b')) t(v, k, s)"
        self.assertEqual(self.run_check(sql), [])
        self.assertEqual(self.run_check(sql), [])  # cached answer

    def test_corrupted_answer_fails(self):
        sql = "SELECT * FROM (VALUES (0.5, 1, 'a'), ('NaN'::DOUBLE, 3, 'c'), (NULL, 2, 'x')) t(v, k, s)"
        failures = self.run_check(sql)
        self.assertEqual(len(failures), 1)
        self.assertEqual(failures[0][0], "q_demo")
        self.assertIn("value at sorted row", failures[0][1])

    def test_missing_row_and_schema_fail(self):
        self.assertIn("row count", self.run_check(
            "SELECT * FROM (VALUES (0.5, 1, 'a')) t(v, k, s)")[0][1])
        self.assertIn("schema", self.run_check("SELECT 1 AS k")[0][1])

    def test_missing_result_fails(self):
        failures = check.check_queries(self.oracle, self.results, {"q_other": "SELECT 1"}, ["q_other"])
        self.assertEqual(failures, [("q_other", "no result written")])


class PipelineCheckTest(unittest.TestCase):
    """The reference pipeline is checked against its generators' truths."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.gkg = gen.gkg(os.path.join(d, "gkg.jsonl"), 3, 400)
        self.html = gen.html(os.path.join(d, "html"), 3, 60)
        out = os.path.join(d, "out")
        os.makedirs(out)
        for n in check.REPORTS:
            with open(os.path.join(out, n), "w") as f:
                f.write("# REPORT\n")
        for n in check.GRAPHS:
            _png(os.path.join(out, n))
        self.summary = {
            "gdelt_pipeline": {"rows": self.gkg["distinct_urls"], "null_urls": 0, "dir": out,
                               **{k: self.gkg[k] for k in ("distinct_urls", "weeks", "k_openai",
                                                           "k_google", "k_anthropic")}},
            "nlp_top_phrases": {"pages": dict(self.html["pages"]),
                                "phrase_counts": {p: {"5": n} for p, n in self.html["pages"].items()}}}

    def tearDown(self):
        self.tmp.cleanup()

    def test_truths_pass(self):
        self.assertEqual(check.check_pipeline(self.summary, self.gkg, self.html), [])

    def test_corrupted_truth_fails(self):
        wrong = dict(self.gkg, k_google=self.gkg["k_google"] + 1)
        failures = check.check_pipeline(self.summary, wrong, self.html)
        self.assertEqual([f[0] for f in failures], ["gdelt_pipeline"])
        wrong = {"pages": dict(self.html["pages"], May_AI_Wars=0)}
        self.assertEqual([f[0] for f in check.check_pipeline(self.summary, self.gkg, wrong)],
                         ["nlp_top_phrases"])

    def test_short_phrase_list_fails(self):
        self.summary["nlp_top_phrases"]["phrase_counts"]["May_AI_Wars"] = {"4": 1, "5": 2}
        self.assertEqual(len(check.check_pipeline(self.summary, self.gkg, self.html)), 1)

    def test_broken_png_fails(self):
        _png(os.path.join(self.summary["gdelt_pipeline"]["dir"], check.GRAPHS[0]), truncate=True)
        failures = check.check_pipeline(self.summary, self.gkg, self.html)
        self.assertEqual(len(failures), 1)
        self.assertIn("PNG", failures[0][1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.gkg(os.path.join(d, "a.jsonl"), 5, 300)
            b = gen.gkg(os.path.join(d, "b.jsonl"), 5, 300)
            with open(os.path.join(d, "a.jsonl")) as f, open(os.path.join(d, "b.jsonl")) as g:
                self.assertEqual(f.read(), g.read())
            self.assertEqual(a, b)
            c = gen.gkg(os.path.join(d, "c.jsonl"), 6, 300)
            self.assertNotEqual(a, c)

    def test_gkg_covers_edge_cases(self):
        import json
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "g.jsonl")
            t = gen.gkg(p, 1, 2000)
            with open(p) as f:
                rows = [json.loads(l) for l in f]
        urls = [r["URL"] for r in rows]
        self.assertIn(None, urls)
        self.assertLess(len({u for u in urls if u}), len([u for u in urls if u]))  # duplicates
        self.assertTrue(any(r["Themes"] in ("", None) for r in rows))
        self.assertTrue(any(r["Organizations"] in ("", None) for r in rows))
        self.assertEqual({len(r["V2Tone"].split(",")) for r in rows}, {5, 7, 9})
        self.assertTrue(any(".co.uk/" in (u or "") for u in urls))
        self.assertEqual(set(t["weeks"]), {"week_feb", "week_may", "other"})


if __name__ == "__main__":
    unittest.main()
