"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a source checkout; the first test builds the
harness (as perfbench/run.py does).
"""
import filecmp
import json
import os
import shutil
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen_tables  # noqa: E402
import run  # noqa: E402


def tree_files(root):
    return sorted(p.relative_to(root) for p in Path(root).rglob("*") if p.is_file())


def same_tree(a, b):
    fa, fb = tree_files(a), tree_files(b)
    return fa == fb and all(filecmp.cmp(a / f, b / f, shallow=False) for f in fa)


class PerfbenchTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.jvm = run.build()
        cls.work = HERE / ".work" / f"tests-{os.getpid()}"
        shutil.rmtree(cls.work, ignore_errors=True)
        cls.work.mkdir(parents=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def gen_tree(self, seed, name):
        out = self.work / name
        run.run_jvm(self.jvm, self.work, ["gen", "--seed", str(seed), "--out", str(out)])
        return out

    def test_same_seed_gives_byte_identical_pdf_trees(self):
        a, b, c = self.gen_tree(7, "pdf-a"), self.gen_tree(7, "pdf-b"), self.gen_tree(8, "pdf-c")
        self.assertTrue(tree_files(a))
        self.assertTrue(same_tree(a, b), "seed 7 twice differs")
        self.assertFalse(same_tree(a, c), "seeds 7 and 8 agree")

    def test_same_seed_gives_byte_identical_tables(self):
        a, b, c = self.work / "tables-a", self.work / "tables-b", self.work / "tables-c"
        gen_tables.generate(7, a)
        gen_tables.generate(7, b)
        gen_tables.generate(8, c)
        self.assertEqual(len(tree_files(a)), 10)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))

    def run_pdf(self, tree):
        work = self.work / f"run-{tree.name}"
        work.mkdir(exist_ok=True)
        return run.run_jvm(self.jvm, work, [
            "run", "--workload", "pdf_mixed", "--seed", "7", "--seconds", "0",
            "--trace", "0", "--work", str(work), "--tree", str(tree)])

    def test_gate_passes_on_true_totals_and_fails_on_a_corrupted_one(self):
        tree = self.gen_tree(7, "gate")
        res = self.run_pdf(tree)
        self.assertEqual(res["failed"], 0, res["problems"])
        self.assertGreater(res["attempted"], 0)

        expected = json.loads((tree / "expected.json").read_text())
        expected["roots"][0]["text_size"] += 1
        (tree / "expected.json").write_text(json.dumps(expected))
        res = self.run_pdf(tree)
        self.assertEqual(res["failed"], res["attempted"])
        self.assertTrue(all("SUM TOTAL" in p for p in res["problems"]), res["problems"])

    def test_metric_tables_match_benchmark_json(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
                         {k: v[:2] for k, v in run.END_TO_END.items()})
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]},
                         dict(run.PER_LAYER))
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
