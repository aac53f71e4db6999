"""Tests of the benchmark itself (not of graft).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The gate and generator tests take a second. The repeatability test runs
the benchmark twice per workload with tracing on (about three minutes,
after the one-off build); `-k GateTest -k GeneratorTest` runs only the
fast ones.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
import zlib

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402


class GateTest(unittest.TestCase):
    """The correctness gate accepts the oracle's own result and rejects a
    deliberately wrong one."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        gen.write_corpus(d, 200, seed=5, exact_share=0.2, near_share=0.1,
                         batches=2, delete_share=0.1)
        self.data = d
        self.sql = ("SELECT lower(text) AS t, min(doc_id) AS keeper, count(*) AS n "
                    "FROM documents GROUP BY 1")
        self.case = {"oracle": "o", "survivors": True, "result": f"{d}/result"}
        self.cases = {"checks": {"k": self.case}, "oracle_sql": {"o": self.sql}}

    def tearDown(self):
        self.tmp.cleanup()

    def verdict(self, frame):
        os.makedirs(self.case["result"], exist_ok=True)
        frame.to_parquet(f"{self.case['result']}/part-0.parquet")
        oracles = gate.precompute(self.cases, self.data)
        report = {"checks": {"k": {"seen": True, "wrong": ""}}}
        return gate.verdicts(self.cases, report, oracles)["k"]

    def survivors_answer(self):
        return duckdb.sql(
            f"SELECT lower(text) AS t, min(doc_id) AS keeper, count(*) AS n "
            f"FROM '{self.data}/survivors.parquet' GROUP BY 1").df()

    def test_accepts_the_survivors_result(self):
        ok, why = self.verdict(self.survivors_answer())
        self.assertTrue(ok, why)

    def test_rejects_a_wrong_value(self):
        f = self.survivors_answer()
        f.loc[0, "n"] += 1
        ok, _ = self.verdict(f)
        self.assertFalse(ok)

    def test_rejects_a_missing_row(self):
        ok, _ = self.verdict(self.survivors_answer().iloc[1:])
        self.assertFalse(ok)

    def test_rejects_a_result_that_ignores_the_deletes(self):
        every = duckdb.sql(
            f"SELECT lower(text) AS t, min(doc_id) AS keeper, count(*) AS n "
            f"FROM '{self.data}/documents.parquet' GROUP BY 1").df()
        ok, _ = self.verdict(every)
        self.assertFalse(ok)

    def test_rejects_a_changed_type(self):
        f = self.survivors_answer()
        f["n"] = f["n"].astype(float)
        ok, _ = self.verdict(f)
        self.assertFalse(ok)

    def test_rejects_a_result_that_differed_between_passes(self):
        self.verdict(self.survivors_answer())
        report = {"checks": {"k": {"seen": True, "wrong": "pass 2 result differs"}}}
        ok, _ = gate.verdicts(self.cases, report, gate.precompute(self.cases, self.data))["k"]
        self.assertFalse(ok)

    def test_kernel_reference(self):
        """A kernel case accepts its reference's value and rejects another."""
        self.cases = {"checks": {"k": dict(self.case, oracle="kernel.ws_tokens", arg="")}}
        texts = pd.read_parquet(f"{self.data}/documents.parquet").text
        want = sum(zlib.crc32(f"[{', '.join(t.split())}]".encode()) for t in texts)
        ok, why = self.verdict(pd.DataFrame({"v": [want]}))
        self.assertTrue(ok, why)
        ok, _ = self.verdict(pd.DataFrame({"v": [want + 1]}))
        self.assertFalse(ok)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, seed):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        info = gen.write_corpus(d, 300, seed, 0.1, 0.1, batches=2, delete_share=0.1)
        return d, info

    def test_same_seed_same_inputs(self):
        (a, ia), (b, ib) = self.write(3), self.write(3)
        self.assertEqual(ia, ib)
        for f in ("documents", "batch_0", "batch_1", "deleted"):
            self.assertTrue(pd.read_parquet(f"{a}/{f}.parquet").equals(
                pd.read_parquet(f"{b}/{f}.parquet")), f)

    def test_stated_shares_and_lengths(self):
        d, info = self.write(4)
        docs = pd.read_parquet(f"{d}/documents.parquet")
        self.assertEqual(len(docs), 300)
        self.assertEqual(info["deleted"], 30)
        self.assertTrue(docs.n_chars.between(gen.MIN_CHARS, gen.MAX_CHARS).all())
        self.assertTrue((docs.text.str.len() == docs.n_chars).all())
        # the exact copies collapse under the exact-dedup normalisation
        self.assertLessEqual(docs.text.str.lower().nunique(), 300 - 30)

    def test_other_seed_other_inputs(self):
        (a, _), (b, _) = self.write(3), self.write(6)
        self.assertFalse(pd.read_parquet(f"{a}/documents.parquet").equals(
            pd.read_parquet(f"{b}/documents.parquet")))


def traced_counts(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items() if k.endswith(".jobs") or
            k in ("genstate.files_created", "genstate.live_generations")}


class RepeatabilityTest(unittest.TestCase):
    """Job counts per operation type, GenState job counts, files created
    and live generations repeat exactly on one seed."""

    def test_counts_repeat_on_one_seed(self):
        for workload in ("chassis", "stateless"):
            first, second = traced_counts(workload, 11), traced_counts(workload, 11)
            self.assertEqual(first, second, workload)
            if workload == "chassis":
                self.assertGreater(first["genstate.dedup.merge.jobs"], 0)
                self.assertGreater(first["genstate.files_created"], 0)


if __name__ == "__main__":
    unittest.main()
