"""Tests of the benchmark's own arithmetic and of the duplicates its input
generator plants. Run from the repository root:

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import os
import re
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import run

SCRATCH = os.path.join(os.getcwd(), ".bench_build", "test")


def main_text(html):
    """The page's main text as the generator laid it out: the paragraphs."""
    return " ".join(re.findall(r"<p>(.*?)</p>", html))


class IndexArithmetic(unittest.TestCase):
    def test_index_is_median_kernel_over_reference(self):
        self.assertAlmostEqual(run.host_index([0.5, 0.3, 0.4], reference_s=0.4), 1.0)
        self.assertAlmostEqual(run.host_index([0.8, 0.8, 0.2, 0.9], reference_s=0.4), 2.0)

    def test_times_are_divided_and_sizes_are_not(self):
        result = {
            "setup_cycles_s": [9.0, 3.0, 4.0],
            "passes": [{"wall_s": w, "task_cpu_s": w / 2, "shuffle_mb": 5.0, "output_mb": 1.5}
                       for w in (2.0, 6.0, 4.0)],
            "live_heap_mb": 100.0,
        }
        m = run.end_to_end(result, 2.0)
        self.assertAlmostEqual(m["setup_s"], 2.0)  # median cycle 4.0 / 2
        self.assertAlmostEqual(m["wall_s"], 2.0)  # median pass 4.0 / 2
        self.assertAlmostEqual(m["task_cpu_s"], 1.0)
        self.assertEqual(m["shuffle_mb"], 5.0)
        self.assertEqual(m["output_mb"], 1.5)
        self.assertEqual(m["live_heap_mb"], 100.0)

    def test_stream_output_overrides_pass_output(self):
        result = {"setup_cycles_s": [1.0], "passes": [{"wall_s": 1.0, "task_cpu_s": 1.0,
                                                       "shuffle_mb": 1.0, "output_mb": 0.0}],
                  "live_heap_mb": 1.0, "output_mb": 0.25}
        self.assertEqual(run.end_to_end(result, 1.0)["output_mb"], 0.25)

    def test_stream_batches_follow_run_length_only(self):
        self.assertEqual(run.stream_batches(12), 12)
        self.assertEqual(run.stream_batches(1), 8)


class PlantedDuplicates(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(SCRATCH, exist_ok=True)
        cls.dir = tempfile.mkdtemp(dir=SCRATCH)
        cls.info = gen.frontdoor(7, os.path.join(cls.dir, "a"), batches=4)
        cls.rows = {}
        cls.order = {}
        for k in range(cls.info["files"]):
            t = pq.read_table(os.path.join(cls.dir, "a", "batch_%04d.parquet" % k)).to_pydict()
            for cid, html in zip(t["crawl_id"], t["html"]):
                cls.rows[cid] = main_text(html)
                cls.order[cid] = (k, cid)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        gen.frontdoor(7, os.path.join(self.dir, "b"), batches=4)
        for k in range(self.info["files"]):
            name = "batch_%04d.parquet" % k
            a = pq.read_table(os.path.join(self.dir, "a", name))
            b = pq.read_table(os.path.join(self.dir, "b", name))
            self.assertTrue(a.equals(b), name)

    def test_files_have_equal_crawl_batches(self):
        sizes = self.info["rows_per_file"]
        self.assertEqual(sizes[0], gen.SIZES["frontdoor_history"])
        self.assertEqual(set(sizes[1:]), {gen.SIZES["frontdoor_batch"]})

    def test_exact_recrawls_point_at_the_first_page_with_their_text(self):
        self.assertTrue(self.info["exact"])
        first = {}
        for cid in sorted(self.rows, key=self.order.get):
            first.setdefault(self.rows[cid], cid)
        for new, canon in self.info["exact"]:
            self.assertEqual(self.rows[new], self.rows[canon])
            self.assertEqual(first[self.rows[new]], canon)
            self.assertLess(self.order[canon], self.order[new])

    def test_no_unplanted_exact_duplicates(self):
        for seed in (7, 101, 102, 103):
            out = os.path.join(self.dir, "s%d" % seed)
            info = gen.frontdoor(seed, out, batches=7)
            planted = {n for n, _ in info["exact"]}
            seen = set()
            for k in range(info["files"]):
                t = pq.read_table(os.path.join(out, "batch_%04d.parquet" % k)).to_pydict()
                for cid, html in zip(t["crawl_id"], t["html"]):
                    text = main_text(html)
                    self.assertEqual(text in seen, cid in planted, "seed %d, crawl id %d" % (seed, cid))
                    seen.add(text)

    def test_near_recrawls_append_one_fresh_token(self):
        self.assertTrue(self.info["near"])
        for new, src in self.info["near"]:
            a, b = self.rows[new].split(" "), self.rows[src].split(" ")
            self.assertEqual(a[:-1], b)
            self.assertNotIn(a[-1], gen.VOCAB)

    def test_every_batch_carries_every_planted_kind(self):
        per_batch = {k: len(self.info[k]) / (self.info["files"] - 1) for k in ("exact", "near")}
        self.assertEqual(per_batch, {"exact": 3.0, "near": 2.0})  # 2 re-crawls + 1 pair


class CurationLayout(unittest.TestCase):
    def test_ids_split_crawl_and_eval(self):
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(dir=SCRATCH)
        try:
            gen.curation(3, d)
            pages = pq.read_table(os.path.join(d, "pages.parquet")).to_pydict()
            ev = pq.read_table(os.path.join(d, "eval.parquet")).to_pydict()
            self.assertTrue(all(i % 10 != 0 for i in pages["doc_id"]))
            self.assertTrue(all(i % 10 == 0 for i in ev["doc_id"]))
            self.assertEqual(len(set(pages["doc_id"])), len(pages["doc_id"]))
            texts = [main_text(h) for h in pages["html"]]
            self.assertLess(len(set(texts)), len(texts), "no exact copies planted")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
