"""Tests of the benchmark's own code; they need no Spark session.

    python3 perfbench/selftest.py

Covers: the same seed gives byte-identical inputs, the tail-percentile
helper, that a failing operation raises ``failed`` and clears
``correct``, and that ``BENCHMARK.json`` names exactly the metrics and
workloads the code reports.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from measure import Ledger, median, tail  # noqa: E402

SMALL = {
    "glue": {"train": 300, "dev": 60},
    "docs": {"docs": 400},
    "vecs": {"vectors": 120},
    "requests": {"train": 200},
}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


class GeneratorTest(unittest.TestCase):
    def setUp(self) -> None:
        self.tmp = os.path.join(run.CACHE, "selftest", str(os.getpid()))
        os.makedirs(self.tmp, exist_ok=True)

    def tearDown(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _gen(self, name: str, seed: int) -> str:
        out = os.path.join(self.tmp, name)
        gen.generate(seed, out, gen.KINDS, SMALL)
        return out

    def test_same_seed_gives_identical_bytes(self) -> None:
        a, b = self._gen("a", 7), self._gen("b", 7)
        names = _files(a)
        self.assertEqual(names, _files(b))
        self.assertIn("documents.parquet", names)
        self.assertIn("embeddings.parquet", names)
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_inputs(self) -> None:
        a, b = self._gen("a", 7), self._gen("b", 8)
        self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"), os.path.join(b, "documents.parquet"), shallow=False))

    def test_truth_matches_tables(self) -> None:
        import pyarrow.parquet as pq

        out = self._gen("a", 3)
        with open(os.path.join(out, "truth.json")) as f:
            truth = json.load(f)
        docs = pq.read_table(os.path.join(out, "documents.parquet")).to_pydict()
        self.assertEqual(len(docs["doc_id"]), truth["docs"]["n_docs"])
        texts = dict(zip(docs["doc_id"], docs["text"]))
        copies = len(texts) - len(set(texts.values()))
        self.assertEqual(copies, truth["docs"]["exact_dup_copies"])
        for a, b, j in truth["docs"]["near_pairs"]:
            self.assertAlmostEqual(gen.jaccard(texts[a], texts[b]), j, places=4)


class HelperTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self) -> None:
        xs = [float(x) for x in range(100, 0, -1)]
        self.assertEqual(tail(xs), (90.0, 90.0, 100))
        self.assertEqual(tail(xs[:40]), (90.0, 75.0, 40))

    def test_tail_of_few_samples_is_the_maximum(self) -> None:
        self.assertEqual(tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        with self.assertRaises(ValueError):
            tail([])

    def test_median(self) -> None:
        self.assertEqual(median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(median([4.0, 1.0, 2.0, 3.0]), 2.5)


class LedgerTest(unittest.TestCase):
    def test_injected_failures_count(self) -> None:
        ledger = Ledger()
        out, _ = ledger.run("ok", lambda: 2, lambda x: None if x == 2 else "wrong")
        self.assertEqual(out, 2)
        res = run.result(ledger, {"quality": 1.0}, {"quality": "ratio"})
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (True, 1, 0))

        def boom():
            raise RuntimeError("injected")

        out, _ = ledger.run("raises", boom)
        self.assertIsNone(out)
        ledger.run("bad output", lambda: 3, lambda x: None if x == 2 else "wrong")
        res = run.result(ledger, {"quality": 1.0}, {"quality": "ratio"})
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (False, 3, 2))


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self) -> None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end_metrics_match_the_code(self) -> None:
        got = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(got, run.END_TO_END)
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in self.spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.spec["end_to_end"]))

    def test_per_layer_metrics_match_the_code(self) -> None:
        got = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(got, run.per_layer_units(run.layer_defs()))

    def test_workloads_and_names(self) -> None:
        from workloads import WORKLOADS

        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(WORKLOADS))
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)


if __name__ == "__main__":
    unittest.main()
