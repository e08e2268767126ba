"""Tests of the benchmark itself: seeded inputs, output checks, and the
loopback server's counters.

Run: python3 -m unittest discover -s perfbench/tests -v
The last two tests build the benchmark JVM (perfbench/build.py) and need
Spark's jars (see build.spark_jars).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL_SF = os.environ.get("PERFBENCH_TEST_SF_DIR") or run.testdata_dir("0.001") or ""


def tmpdir():
    (HERE / ".work").mkdir(exist_ok=True)
    return tempfile.TemporaryDirectory(dir=HERE / ".work", prefix="test-")


def tree_bytes(d):
    return {p.name: p.read_bytes() for p in sorted(Path(d).iterdir())}


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_ingest_inputs(self):
        with tmpdir() as a, tmpdir() as b, tmpdir() as c:
            gen.gen_ingest(7, a, events=3000)
            gen.gen_ingest(7, b, events=3000)
            gen.gen_ingest(8, c, events=3000)
            self.assertEqual(tree_bytes(a), tree_bytes(b))
            self.assertNotEqual(tree_bytes(a), tree_bytes(c))
            m = json.loads((Path(a) / "manifest.json").read_text())
            kinds = m["error_rows_per_kind"]
            self.assertTrue(all(kinds[k] > 0 for k in kinds), kinds)
            self.assertEqual(m["ok_rows"] + m["error_rows"],
                             m["events"] + kinds["unknown_adapter"])

    @unittest.skipUnless(os.path.isdir(SMALL_SF), f"no tables at {SMALL_SF}")
    def test_same_seed_same_permuted_tables(self):
        import pyarrow.parquet as pq
        with tmpdir() as a, tmpdir() as b, tmpdir() as c:
            gen.gen_query(3, a, SMALL_SF)
            gen.gen_query(3, b, SMALL_SF)
            gen.gen_query(4, c, SMALL_SF)
            self.assertEqual(tree_bytes(a), tree_bytes(b))
            self.assertNotEqual(tree_bytes(a), tree_bytes(c))
            src = pq.read_table(f"{SMALL_SF}/lineitem.parquet")
            got = pq.ParquetFile(f"{a}/lineitem.parquet")
            self.assertEqual(got.metadata.num_row_groups, 1)
            key = [(k, "ascending") for k in src.column_names]
            self.assertTrue(got.read().sort_by(key).equals(src.sort_by(key)))


class QueryResultCheck(unittest.TestCase):
    SQL = "SELECT * FROM (VALUES (1, 'a', 2.5), (2, 'b', 3.0), (3, NULL, 0.1)) t(k, s, x)"

    def check(self, table):
        import pyarrow.parquet as pq
        with tmpdir() as d:
            dump = Path(d) / "dump"
            dump.mkdir()
            pq.write_table(table, dump / "part-0.parquet")
            con = oracle.connect(d, [])
            _, _, bad = oracle.check_query(con, Path(d) / "cache", "q", {"oracle": self.SQL}, dump)
            con.close()
            return bad

    def table(self, k, s, x):
        import pyarrow as pa
        return pa.table({"x": pa.array(x, pa.float64()), "k": pa.array(k, pa.int64()),
                         "s": pa.array(s, pa.string())})

    def test_same_rows_in_any_order_pass(self):
        self.assertIsNone(self.check(self.table([3, 1, 2], [None, "a", "b"], [0.1, 2.5, 3.0])))

    def test_corrupted_value_is_caught(self):
        self.assertIsNotNone(self.check(self.table([3, 1, 2], [None, "a", "b"], [0.1, 2.5, 3.5])))

    def test_dropped_row_is_caught(self):
        self.assertIsNotNone(self.check(self.table([1, 2], ["a", "b"], [2.5, 3.0])))


def tiny_ingest(d):
    """Three served chapters (one flaky) and one with an unknown adapter."""
    d = Path(d)
    chapters = [
        {"chapter": "a", "title": "A", "adapter": "meetup", "api_id": "pwl-a"},
        {"chapter": "b", "title": "B", "adapter": "facebook", "api_id": "pwl-b"},
        {"chapter": "c", "title": "C", "adapter": "eventbrite", "api_id": "pwl-c"},
        {"chapter": "d", "title": "D", "adapter": "myspace", "api_id": "pwl-d"},
    ]
    meetup = [
        {"chapter": "a", "id": "a1", "link": "http://m/a1", "time": 1423456789000,
         "utc_offset": -18000000, "name": "One",
         "photo_album": {"photo_sample": [{"photo_link": "http://p/1.jpg"}]}},
        {"chapter": "a", "link": "http://m/a2", "time": 1423456789000, "name": "No id"},
    ]
    facebook = [{"chapter": "b", "id": "b1", "start_time": "2019-06-10T18:30:00-0930",
                 "name": "Two", "description": "# Hi\n\n- x\n- y"}]
    eventbrite = [{"chapter": "c", "id": "c1", "url": "http://e/c1",
                   "name": {"text": "Three"},
                   "start": {"timezone": "Europe/Rome", "local": "2019-07-24T19:00:00"}}]
    gen._write_lines(d / "chapters.jsonl", [gen._dump(r) for r in chapters])
    pages = {"meetup": meetup, "facebook": facebook, "eventbrite": eventbrite}
    for a, rows in pages.items():
        gen._write_lines(d / f"raw_{a}.jsonl", [gen._dump(r) for r in rows])
    manifest = {
        "chapters": 4, "flaky_chapters": ["c"],
        "ok_rows_per_chapter": {"a": 1, "b": 1, "c": 1},
        "error_rows_per_kind": {"missing_id": 1, "bad_start_time": 0, "bad_start_local": 0,
                                "missing_timezone": 0, "unknown_adapter": 1},
        "sample": [{"adapter": "meetup", "raw": meetup[0]},
                   {"adapter": "facebook", "raw": facebook[0]},
                   {"adapter": "eventbrite", "raw": eventbrite[0]}],
    }
    (d / "manifest.json").write_text(json.dumps(manifest))
    served = sum(len("\n".join(gen._dump(r) for r in rows).encode()) for rows in pages.values())
    return served


class IngestJvm(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build.build()
        cls.dir = tmpdir()
        d = Path(cls.dir.name)
        cls.inputs, cls.work = d / "in", d / "work"
        cls.inputs.mkdir()
        cls.served = tiny_ingest(cls.inputs)
        run.jvm(cls.classes, ["run", "ingest", cls.inputs, 2, cls.work, 1, 0, 0],
                cls.work.parent / "jvm.log", timeout=170)
        cls.res = json.loads((cls.work / "result.json").read_text())

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def test_server_counters_match_hand_count(self):
        op = self.res["cold"]["ops"][0]
        self.assertIsNone(op["error"])
        self.assertIsNone(op["mismatch"])
        self.assertEqual(op["rows"], 3 + 2)  # 3 ok rows, 2 error rows
        # one op = 2 actions (ok sink, error sink) x 3 adapter branches,
        # each branch scanning all 4 chapters: 24 fetches, plus the flaky
        # chapter's one 503 that the transport retries
        self.assertEqual(op["extra"]["rest.requests"], 25)
        self.assertEqual(op["extra"]["rest.retries"], 1)
        self.assertAlmostEqual(op["extra"]["rest.fetches_per_chapter"], 25 / 4)
        # every body is sent once per fetch; the 503 and the unknown
        # adapter's empty page send nothing
        self.assertAlmostEqual(op["extra"]["rest.mb_served"], 6 * self.served / 1e6)

    def test_dropped_sink_row_is_caught(self):
        ok_dir, err_dir = self.work / "sink" / "ok", self.work / "sink" / "errors"

        def check():
            out = subprocess.run(
                ["java", "-cp", build.classpath(self.classes), "perfbench.Main",
                 "check-ingest", str(self.inputs), str(ok_dir), str(err_dir)],
                capture_output=True, text=True, check=True).stdout
            return json.loads(out.strip().splitlines()[-1])

        self.assertIsNone(check()["mismatch"])
        part = next((ok_dir / "chapter=a").glob("part-*.json"))
        part.write_text("")
        got = check()
        self.assertEqual(got["ok_rows"], 2)
        self.assertIn("chapter a", got["mismatch"])


if __name__ == "__main__":
    unittest.main()
