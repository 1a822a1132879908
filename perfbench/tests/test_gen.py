import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.base_tables(0.001, 5), gen.base_tables(0.001, 5)
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
        self.assertFalse(a["lineitem"].equals(gen.base_tables(0.001, 6)["lineitem"]))

    def test_table_shapes(self):
        t = gen.base_tables(0.001, 1)
        self.assertEqual({n: t[n].num_rows for n in ("customer", "orders", "lineitem", "documents")},
                         {"customer": 150, "orders": 1500, "lineitem": 6000, "documents": 500})
        texts = t["documents"].column("text").to_pylist()
        self.assertTrue(any(x.endswith(" dup") for x in texts))
        self.assertLess(len(set(texts)), len(texts))

    def test_text_scale_opens_the_vocabulary(self):
        base = gen.base_tables(0.001, 1)
        x3 = gen.text_scale(base, 3, seed=9)
        docs = x3["documents"]
        self.assertEqual(docs.num_rows, 3 * base["documents"].num_rows)
        self.assertEqual(len(set(docs.column("doc_id").to_pylist())), docs.num_rows)
        vocab = {w for x in docs.column("text").to_pylist() for w in x.split(" ")}
        base_vocab = {w for x in base["documents"].column("text").to_pylist() for w in x.split(" ")}
        self.assertEqual(len(vocab), 3 * len(base_vocab))
        self.assertTrue(all(w.isalpha() for w in vocab))
        self.assertTrue(x3["documents"].equals(gen.text_scale(base, 3, seed=9)["documents"]))
        self.assertFalse(x3["documents"].equals(gen.text_scale(base, 3, seed=10)["documents"]))
        self.assertEqual(x3["embeddings"].num_rows, 3 * base["embeddings"].num_rows)


if __name__ == "__main__":
    unittest.main()
