import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".work")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK, prefix="test-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_gives_byte_identical_tables(self):
        for w in gen.GENERATORS:
            a = gen.generate(w, 11, os.path.join(self.tmp, w + "-a"))
            b = gen.generate(w, 11, os.path.join(self.tmp, w + "-b"))
            self.assertEqual(a["sha256"], b["sha256"], w)
            self.assertEqual(gen.checksum(os.path.join(self.tmp, w + "-a")), a["sha256"])

    def test_other_seed_gives_other_tables(self):
        for w in gen.GENERATORS:
            a = gen.generate(w, 11, os.path.join(self.tmp, w + "-a"))
            b = gen.generate(w, 12, os.path.join(self.tmp, w + "-b"))
            self.assertNotEqual(a["sha256"], b["sha256"], w)

    def test_ehr_corpus_shape(self):
        m = gen.generate("ehr_classify", 3, os.path.join(self.tmp, "e"))
        f = m["facts"]
        parts = os.listdir(os.path.join(self.tmp, "e", "documents.parquet"))
        self.assertEqual(len(parts), gen.SIZES["ehr_classify"]["files"])
        with open(os.path.join(self.tmp, "e", "ehr.csv"), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        self.assertEqual(lines[0], "PATNR;annotation;text")
        self.assertEqual(len(lines) - 1, f["documents"])
        self.assertEqual(f["test_rows"], f["documents"] // 2)

    def test_regeneration_leaves_no_stale_file(self):
        out = os.path.join(self.tmp, "s")
        gen.generate("ehr_classify", 4, out)
        stale = os.path.join(out, "documents.parquet", "part-00099.parquet")
        open(stale, "w").close()
        os.remove(os.path.join(out, "manifest.json"))
        m = gen.generate("ehr_classify", 4, out)
        self.assertFalse(os.path.exists(stale))
        self.assertEqual(gen.checksum(out), m["sha256"])

    def test_oracle_cache_follows_the_inputs(self):
        import oracle
        out = os.path.join(self.tmp, "o")
        gen.generate("registry_mix", 6, out)
        sql, cache = {"n": "SELECT count(*) AS n FROM documents"}, os.path.join(out, "oracle.json")
        fresh = oracle.oracle_hashes(out, sql, cache, "inputs-a")
        with open(cache) as f:
            cached = json.load(f)
        cached["hashes"]["n"]["sha256"] = "stale"
        with open(cache, "w") as f:
            json.dump(cached, f)
        self.assertEqual(oracle.oracle_hashes(out, sql, cache, "inputs-a")["n"]["sha256"], "stale")
        self.assertEqual(oracle.oracle_hashes(out, sql, cache, "inputs-b"), fresh)

    def test_registry_plants_duplicates(self):
        import duckdb
        out = os.path.join(self.tmp, "r")
        m = gen.generate("registry_mix", 5, out)
        con = duckdb.connect()
        groups = con.execute(f"SELECT count(*) FROM (SELECT text FROM '{out}/documents.parquet' "
                             "GROUP BY text HAVING count(*) > 1)").fetchone()[0]
        self.assertEqual(groups, m["facts"]["exact_dup_groups"])
        self.assertEqual(len(m["facts"]["near_dup_pairs"]), gen.SIZES["registry_mix"]["near_dup_pairs"])
        non_ascii = con.execute(f"SELECT count(*) FROM '{out}/documents.parquet' "
                                "WHERE regexp_matches(text, '[^\\x00-\\x7F]')").fetchone()[0]
        self.assertEqual(non_ascii, 0)


if __name__ == "__main__":
    unittest.main()
