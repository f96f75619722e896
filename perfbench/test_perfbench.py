"""Self-tests of the benchmark: the output checks reject perturbed
outputs, and the metric files agree. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


class MetricNames(unittest.TestCase):
    def test_every_metric_name_is_well_formed(self):
        b = bench()
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertTrue(NAME.fullmatch(m["name"]), m["name"])

    def test_layer_map_names_every_per_layer_metric_and_its_workloads(self):
        b = bench()
        with open(os.path.join(HERE, "layers.json")) as fh:
            layers = json.load(fh)
        self.assertEqual([m["name"] for m in b["per_layer"]], list(layers))
        names = {w["name"] for w in b["workloads"]}
        for n, spec in layers.items():
            self.assertTrue(spec["moves"], n)
            self.assertTrue(spec["workloads"], n)
            self.assertTrue(set(spec["workloads"]) <= names, n)


class OutputDir(unittest.TestCase):
    """A scratch directory and a DuckDB connection to write outputs with."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.con = checks.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def write(self, sql, *path):
        d = os.path.join(self.dir, *path)
        os.makedirs(d, exist_ok=True)
        self.con.sql(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT parquet)")


class Perturbed(OutputDir):
    """A correct output passes; one dropped row or one changed value fails."""

    def setUp(self):
        super().setUp()
        self.con.sql("CREATE TABLE exp AS SELECT i AS farm_no, 'G' || (i % 3) AS gubun, "
                     "i * 0.5 AS val_1 FROM range(50) t(i)")

    def write(self, sql, name):
        super().write(sql, name)
        return checks.pq(os.path.join(self.dir, name))

    def test_identical_output_passes(self):
        got = self.write("SELECT * FROM exp", "same")
        self.assertEqual(checks.compare(self.con, got, "exp"), (True, 1.0))

    def test_dropped_row_fails(self):
        got = self.write("SELECT * FROM exp WHERE farm_no <> 7", "dropped")
        ok, recall = checks.compare(self.con, got, "exp")
        self.assertFalse(ok)
        self.assertAlmostEqual(recall, 49 / 50)

    def test_changed_value_fails(self):
        got = self.write("SELECT farm_no, gubun, CASE WHEN farm_no = 7 THEN val_1 + 1e-9 "
                         "ELSE val_1 END AS val_1 FROM exp", "changed")
        self.assertFalse(checks.compare(self.con, got, "exp")[0])

    def test_duplicated_row_fails(self):
        got = self.write("SELECT * FROM exp UNION ALL SELECT * FROM exp WHERE farm_no = 3",
                         "duplicated")
        self.assertFalse(checks.compare(self.con, got, "exp")[0])


class AnnCheck(unittest.TestCase):
    """Served top-k rows: exactly k ranked rows of valid, distinct ids."""

    def run_check(self, rows):
        d = tempfile.mkdtemp()
        try:
            corpus = os.path.join(d, "corpus.parquet")
            os.makedirs(corpus)
            con = checks.connect()
            con.sql(f"COPY (SELECT i::BIGINT AS vec_id FROM range(10) t(i)) "
                    f"TO '{corpus}/part-0.parquet' (FORMAT parquet)")
            with open(os.path.join(d, "served.jsonl"), "w") as fh:
                fh.write(json.dumps({"op": 0, "probes": [1, 2], "rows": rows}) + "\n")
            with open(os.path.join(d, "exact.jsonl"), "w") as fh:
                for q, c in [(1, 3), (1, 4), (2, 5), (2, 6)]:
                    fh.write(json.dumps([q, c]) + "\n")
            result = {"record": {"k": 2, "exact": os.path.join(d, "exact.jsonl")}}
            op = {"output": os.path.join(d, "served.jsonl") + "#0"}
            (verdict,) = checks.ann(con, {"ann": d}, result, [op])
            con.close()
            return verdict
        finally:
            shutil.rmtree(d)

    good = [[1, 3, 1], [1, 4, 2], [2, 5, 1], [2, 7, 2]]

    def test_good_rows_pass_with_their_recall(self):
        self.assertEqual(self.run_check(self.good), (True, 0.75))

    def test_dropped_row_fails(self):
        self.assertFalse(self.run_check(self.good[:-1])[0])

    def test_unknown_id_fails(self):
        self.assertFalse(self.run_check(self.good[:-1] + [[2, 99, 2]])[0])

    def test_probe_returned_as_its_own_neighbour_fails(self):
        self.assertFalse(self.run_check(self.good[:-1] + [[2, 2, 2]])[0])


class CurationCheck(OutputDir):
    """The funnel equals the oracle's, the curated ids equal the oracle's
    curated ids, and the funnel's last stage counts the curated rows."""

    funnel = ("SELECT * FROM (VALUES ('de', 5, 5, 4, 1), ('en', 10, 9, 8, 3)) "
              "t(lang, n_input, n_exact, n_neardup, n_quality)")
    curated = "SELECT i::BIGINT AS doc_id, 'text ' || i AS text FROM range(4) t(i)"

    def run_check(self, funnel, curated):
        docs = os.path.join(self.dir, "docs")
        os.makedirs(docs)
        self.con.sql(f"COPY ({self.funnel}) TO '{docs}/oracle_funnel.parquet' (FORMAT parquet)")
        self.con.sql(f"COPY (SELECT doc_id FROM ({self.curated})) "
                     f"TO '{docs}/oracle_curated.parquet' (FORMAT parquet)")
        self.write(funnel, "out", "funnel")
        self.write(curated, "out", "curated")
        (verdict,) = checks.curation(self.con, {"docs": docs}, {},
                                     [{"output": os.path.join(self.dir, "out")}])
        return verdict

    def test_correct_output_passes(self):
        self.assertEqual(self.run_check(self.funnel, self.curated), (True, 1.0))

    def test_dropped_curated_row_fails(self):
        ok, recall = self.run_check(self.funnel, self.curated + " WHERE i <> 2")
        self.assertFalse(ok)
        self.assertAlmostEqual(recall, 3 / 4)

    def test_changed_funnel_value_fails(self):
        changed = f"SELECT lang, n_input, n_exact + (lang = 'de')::INT AS n_exact, " \
                  f"n_neardup, n_quality FROM ({self.funnel})"
        self.assertFalse(self.run_check(changed, self.curated)[0])


class StreamCheck(OutputDir):
    """Curated rows are unique and from the input; the band store holds
    exactly the curated documents' bands."""

    docs = "SELECT i::BIGINT AS doc_id, 'text ' || i AS text FROM range(6) t(i)"
    bands = ("SELECT doc_id, b::INT AS band, 'k' || doc_id || '-' || b AS band_key "
             "FROM (SELECT doc_id FROM ({docs}) WHERE doc_id < 4), range(4) t(b)")

    def run_check(self, curated=None, store=None):
        bands = self.bands.format(docs=self.docs)
        self.write(self.docs, "out", "watch")
        self.write(curated or f"SELECT * FROM ({self.docs}) WHERE doc_id < 4",
                   "out", "curated", "batch_id=0")
        self.write(store or bands, "out", "store", "batch_id=0")
        self.write(bands, "out", "expected_bands")
        op = {"output": os.path.join(self.dir, "out")}
        (verdict,) = checks.stream(self.con, {}, {}, [op])
        return verdict

    def test_correct_output_passes(self):
        self.assertEqual(self.run_check(), (True, 1.0))

    def test_changed_band_key_fails(self):
        store = (f"SELECT doc_id, band, CASE WHEN doc_id = 1 AND band = 2 THEN 'x' "
                 f"ELSE band_key END AS band_key FROM ({self.bands.format(docs=self.docs)})")
        self.assertFalse(self.run_check(store=store)[0])

    def test_dropped_band_row_fails(self):
        store = (f"SELECT * FROM ({self.bands.format(docs=self.docs)}) "
                 f"WHERE NOT (doc_id = 3 AND band = 0)")
        ok, recall = self.run_check(store=store)
        self.assertFalse(ok)
        self.assertAlmostEqual(recall, 15 / 16)

    def test_duplicated_curated_row_fails(self):
        curated = (f"SELECT * FROM ({self.docs}) WHERE doc_id < 4 "
                   f"UNION ALL SELECT * FROM ({self.docs}) WHERE doc_id = 0")
        self.assertFalse(self.run_check(curated=curated)[0])

    def test_curated_row_not_from_the_input_fails(self):
        curated = (f"SELECT doc_id, CASE WHEN doc_id = 2 THEN 'other' ELSE text END AS text "
                   f"FROM ({self.docs}) WHERE doc_id < 4")
        self.assertFalse(self.run_check(curated=curated)[0])


class Oracle(unittest.TestCase):
    def test_split_ctes_keeps_nested_parentheses_and_quotes(self):
        ctes, final = checks.split_ctes(
            "WITH a AS (SELECT ')' AS x, (1 + 2) AS y), b AS (SELECT * FROM a)\n"
            "SELECT * FROM b")
        self.assertEqual([n for n, _ in ctes], ["a", "b"])
        self.assertEqual(ctes[0][1], "SELECT ')' AS x, (1 + 2) AS y")
        self.assertEqual(final, "SELECT * FROM b")

    def test_tail_is_the_maximum_until_twenty_samples(self):
        self.assertEqual(checks.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        value, pct, n = checks.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))


if __name__ == "__main__":
    unittest.main()
