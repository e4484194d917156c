"""Tests of the benchmark's generators and output checks (no JVM needed).

Run from the root of a checkout: python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


def write_stream(out_dir, stream, rows):
    """Write `rows` the way the target lays a stream out: one directory per
    stream and epoch, Parquet part files inside."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(out_dir, stream + "-20260101_000000-000000.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "part-00000.snappy.parquet"))


def expected_rows(pages):
    """Flattened rows of every RECORD in `pages`, by stream."""
    schemas, rows = {}, {}
    for line in b"".join(pages).decode("utf-8").splitlines():
        msg = json.loads(line)
        if msg["type"] == "SCHEMA":
            schemas[msg["stream"]] = msg["schema"]
        elif msg["type"] == "RECORD":
            rows.setdefault(msg["stream"], []).append(
                gen.flatten(msg["record"], schemas[msg["stream"]]))
    return rows


class GeneratorTest(unittest.TestCase):
    def test_batch_corpus_is_a_function_of_the_seed(self):
        a, ma = gen.batch_corpus(7)
        b, mb = gen.batch_corpus(7)
        c, _ = gen.batch_corpus(8)
        self.assertEqual(a, b)
        self.assertEqual(ma, mb)
        self.assertNotEqual(a, c)
        records = sum(1 for line in a.splitlines() if b'"type":"RECORD"' in line)
        self.assertEqual(records, gen.N_ORDERS + gen.N_EVENTS + gen.N_CUSTOMERS)
        self.assertEqual(ma["records"], records)
        self.assertEqual(ma["final_bookmark"]["seq"], records)

    def test_batch_corpus_has_a_schema_re_emit_and_record_only_fields(self):
        data, _ = gen.batch_corpus(7)
        lines = [json.loads(x) for x in data.decode("utf-8").splitlines()]
        customer_schemas = [m for m in lines
                            if m["type"] == "SCHEMA" and m["stream"] == "customers"]
        self.assertEqual(len(customer_schemas), 2)
        extra = [m for m in lines if m["type"] == "RECORD"
                 and "referral_code" in m["record"]]
        self.assertTrue(extra)
        self.assertTrue(lines[-1]["type"] == "STATE")

    def test_live_pages_are_a_function_of_the_seed(self):
        def pages(seed):
            feed = gen.LiveFeed(seed)
            return [feed.page(k) for k in range(3)], feed.manifest()
        (pa, ma), (pb, mb), (pc, _) = pages(3), pages(3), pages(4)
        self.assertEqual(pa, pb)
        self.assertEqual(ma, mb)
        self.assertNotEqual(pa, pc)
        self.assertEqual(ma["final_bookmark"], {"bookmarks": {"page": 2}})
        for k, page in enumerate(pa):
            self.assertEqual(json.loads(page.splitlines()[-1]),
                             {"type": "STATE", "value": {"bookmarks": {"page": k}}})

    def test_flatten_follows_the_engine_semantics(self):
        row = gen.flatten({"o_orderkey": 1, "o_totalprice": 3,
                           "customer": {"c_custkey": 2, "nation": None},
                           "line_items": [{"l_linenumber": 1, "l_quantity": 2.0}],
                           "extra": "x"}, gen.ORDERS_SCHEMA)
        self.assertEqual(row["o_totalprice"], 3.0)
        self.assertIsInstance(row["o_totalprice"], float)
        self.assertEqual(row["customer__c_custkey"], 2)
        self.assertIsNone(row["customer__nation__n_name"])
        self.assertEqual(row["line_items"], "[{'l_linenumber': 1, 'l_quantity': 2.0}]")
        self.assertEqual(row["extra"], "x")


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        feed = gen.LiveFeed(5)
        self.pages = [feed.page(k) for k in range(2)]
        self.manifest = feed.manifest()
        self.rows = expected_rows(self.pages)

    def tearDown(self):
        self.tmp.cleanup()

    def out(self, rows_by_stream):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        for stream, rows in rows_by_stream.items():
            write_stream(d, stream, rows)
        return d

    def test_correct_output_passes(self):
        self.assertEqual(check.check_ingest(self.out(self.rows), self.manifest), [])

    def test_corrupted_value_fails(self):
        rows = {k: [dict(r) for r in v] for k, v in self.rows.items()}
        rows["issues"][3]["title"] += "!"
        self.assertTrue(check.check_ingest(self.out(rows), self.manifest))

    def test_lost_row_fails(self):
        rows = dict(self.rows, comments=self.rows["comments"][1:])
        self.assertTrue(check.check_ingest(self.out(rows), self.manifest))

    def test_duplicated_key_fails(self):
        dup = [dict(r) for r in self.rows["issues"]]
        dup[1]["issue_id"] = dup[0]["issue_id"]
        problems = check.check_ingest(self.out(dict(self.rows, issues=dup)), self.manifest)
        self.assertTrue(any("duplicate keys" in p for p in problems))

    def test_final_bookmark(self):
        good = json.dumps(self.manifest["final_bookmark"])
        self.assertEqual(check.check_bookmark([good], self.manifest), [])
        self.assertTrue(check.check_bookmark(['{"bookmarks": {"page": 0}}'], self.manifest))
        self.assertTrue(check.check_bookmark([], self.manifest))

    def test_live_bookmarks_must_not_go_back_and_must_reach_the_end(self):
        line = lambda k: json.dumps({"bookmarks": {"page": k}})  # noqa: E731
        self.assertEqual(check.check_live_bookmarks([(0, line(0)), (1, line(2))], 2), [])
        self.assertTrue(check.check_live_bookmarks([(0, line(2)), (1, line(1))], 2))
        self.assertTrue(check.check_live_bookmarks([(0, line(0)), (1, line(1))], 2))

    def test_operator_row_against_its_oracle(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        sf = tempfile.mkdtemp(dir=self.tmp.name)
        out = tempfile.mkdtemp(dir=self.tmp.name)
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"r": "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)"}, f)
        cache = os.path.join(self.tmp.name, "cache")

        def result(rows):
            os.makedirs(os.path.join(out, "r"), exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, "r", "part-0.parquet"))
            return check.check_rows(sf, out, ["r"], cache)
        self.assertEqual(result([{"k": 2, "v": "b"}, {"k": 1, "v": "a"}]), [])
        self.assertTrue(result([{"k": 2, "v": "b"}, {"k": 1, "v": "x"}]))
        self.assertTrue(result([{"k": 1, "v": "a"}]))


class MemoryTest(unittest.TestCase):
    def test_peak_heap_is_the_largest_occupancy_after_a_collection(self):
        import types
        import run
        with tempfile.NamedTemporaryFile("w", suffix=".gc.log") as f:
            f.write("[0.005s][info][gc] Using G1\n"
                    "[0.9s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause)"
                    " 76M->28M(254M) 5.1ms\n"
                    "[1.7s][info][gc] GC(1) Pause Remark 301M->212M(360M) 3.4ms\n"
                    "[2.1s][info][gc] GC(2) Pause Young (Mixed) (G1 Evacuation Pause)"
                    " 290M->131M(360M) 7.0ms\n")
            f.flush()
            self.assertEqual(run.Proc.peak_heap_mb(types.SimpleNamespace(gc_log=f.name)), 212.0)
        self.assertEqual(run.Proc.peak_heap_mb(types.SimpleNamespace(gc_log=f.name)), 0.0)


if __name__ == "__main__":
    unittest.main()
