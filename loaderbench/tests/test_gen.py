"""Generator determinism and ground truth.

    python3 -m unittest discover -s loaderbench/tests
"""

import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def read_all(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class CellsTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.gen_cells(a, 5, 3000)
            gen.gen_cells(b, 5, 3000)
            gen.gen_cells(c, 6, 3000)
            self.assertEqual(read_all(a), read_all(b))
            self.assertNotEqual(read_all(a)["plate_00.parquet"],
                                read_all(c)["plate_00.parquet"])

    def test_plates_are_sorted_contiguous_id_ranges(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.gen_cells(t, 3, 2800, wide=True)
            self.assertEqual(len(m["plate_sizes"]), gen.PLATES)
            self.assertEqual(sum(m["plate_sizes"].values()), 2800)
            self.assertEqual(sum(m["class_sizes"].values()), 2800)
            start = 0
            for name in sorted(m["plate_sizes"]):
                tab = pq.read_table(os.path.join(t, name + ".parquet"))
                ids = tab.column("cell_id").to_pylist()
                self.assertEqual(ids, list(range(start, start + len(ids))))
                self.assertEqual(set(tab.column("plate").to_pylist()), {name})
                genes = tab.column("genes").to_pylist()
                self.assertTrue(all(len(g) == gen.NNZ for g in genes))
                self.assertTrue(all(len(e) == gen.NNZ for e in
                                    tab.column("expressions").to_pylist()))
                start += len(ids)

    def test_narrow_zipf_corpus_keeps_every_class(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.gen_cells(t, 3, 20000, wide=False, zipf=True)
            sizes = sorted(m["class_sizes"].values())
            self.assertEqual(len(sizes), gen.CELL_LINES)
            self.assertGreater(sizes[0], 0)
            self.assertGreater(sizes[-1], 10 * sizes[0])   # skewed
            tab = pq.read_table(os.path.join(t, "plate_00.parquet"))
            self.assertEqual(tab.column_names, ["cell_id", "plate",
                                                "cell_line"])


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen.gen_corpus(a, 9, 400)
            gen.gen_corpus(b, 9, 400)
            self.assertEqual(read_all(a), read_all(b))

    def test_planted_pairs_are_exact_or_one_word_apart(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.gen_corpus(t, 4, 1000)
            tab = pa.concat_tables(
                pq.read_table(os.path.join(t, f)) for f in sorted(m["files"]))
            ids = tab.column("doc_id").to_pylist()
            self.assertEqual(ids, list(range(1000)))
            text = tab.column("text").to_pylist()
            pairs = m["planted_pairs"]
            self.assertEqual(len(pairs), m["exact_pairs"] + m["near_pairs"])
            self.assertEqual(len({b for _, b, _ in pairs}), len(pairs))
            for a, b, kind in pairs:
                self.assertLess(a, b)
                wa, wb = text[a].split(" "), text[b].split(" ")
                diff = sum(x != y for x, y in zip(wa, wb))
                self.assertEqual(len(wa), len(wb))
                self.assertEqual(diff, 0 if kind == "exact" else 1)


if __name__ == "__main__":
    unittest.main()
