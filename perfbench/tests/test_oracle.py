"""The output check catches a planted wrong result.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
GEN = os.path.join(HERE, "..", "..", "tools", "gen_scale.py")

import oracle  # noqa: E402

SQL = "SELECT n_regionkey, count(*)::BIGINT AS n FROM nation GROUP BY 1 ORDER BY 1"


class OracleCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        # the tables the benchmark reads, from the repository's generator
        subprocess.run([sys.executable, GEN, "0.0001", cls.data], check=True,
                       stdout=subprocess.DEVNULL)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def dump(self, name, df):
        d = os.path.join(self.tmp.name, "dump", name)
        os.makedirs(d, exist_ok=True)
        # two files, rows out of order: the check must not depend on either
        half = len(df) // 2
        df.iloc[half:].to_parquet(os.path.join(d, "part-0.parquet"), index=False)
        df.iloc[:half].to_parquet(os.path.join(d, "part-1.parquet"), index=False)

    def check(self, name):
        return oracle.check(self.data, os.path.join(self.tmp.name, "dump"), {name: SQL},
                            os.path.join(self.tmp.name, "cache"))

    def right(self):
        return pd.DataFrame({"n_regionkey": list(range(5)), "n": [5] * 5})

    def test_right_result_passes(self):
        self.dump("right", self.right())
        self.assertEqual(self.check("right"), {})

    def test_planted_wrong_value_is_caught(self):
        df = self.right()
        df.loc[3, "n"] = 6
        self.dump("wrong_value", df)
        self.assertIn("values", self.check("wrong_value")["wrong_value"])

    def test_missing_row_is_caught(self):
        self.dump("missing_row", self.right().iloc[:4])
        self.assertIn("rows", self.check("missing_row")["missing_row"])

    def test_renamed_column_is_caught(self):
        self.dump("renamed", self.right().rename(columns={"n": "cnt"}))
        self.assertIn("columns", self.check("renamed")["renamed"])

    def test_missing_dump_is_caught(self):
        self.assertIn("missing_dump", self.check("missing_dump"))


if __name__ == "__main__":
    unittest.main()
