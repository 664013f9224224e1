import unittest

import numpy as np

from benchlib import gen


def same(a, b):
    """Deep equality over the generators' outputs."""
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    if hasattr(a, "equals"):
        return a.equals(b)
    return a == b


class SeedTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertTrue(same(gen.bank_inputs(5), gen.bank_inputs(5)))
        self.assertTrue(same(gen.ingest_inputs(5), gen.ingest_inputs(5)))
        self.assertTrue(same(gen.olap_inputs(5), gen.olap_inputs(5)))

    def test_other_seed_other_inputs(self):
        a, b = gen.bank_inputs(5), gen.bank_inputs(6)
        for k in ("events", "writers", "reader", "absent"):
            self.assertFalse(same(a[k], b[k]), k)
        a, b = gen.ingest_inputs(5), gen.ingest_inputs(6)
        for k in ("base", "warm", "batches", "reader"):
            self.assertFalse(same(a[k], b[k]), k)
        a, b = gen.olap_inputs(5), gen.olap_inputs(6)
        self.assertFalse(same(a["passes"], b["passes"]))
        for k in ("customer", "orders", "lineitem", "embeddings"):
            self.assertFalse(same(a["tables"][k], b["tables"][k]), k)

    def test_written_files_are_identical_for_one_seed(self):
        import filecmp
        import os
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            for w in ("bank_txn", "ingest_mv", "olap_lanes"):
                gen.write_inputs(w, 3, f"{d}/{w}-a")
                gen.write_inputs(w, 3, f"{d}/{w}-b")
                for root, _, files in os.walk(f"{d}/{w}-a"):
                    for f in files:
                        other = os.path.join(root.replace(f"{w}-a", f"{w}-b"), f)
                        self.assertTrue(filecmp.cmp(os.path.join(root, f), other,
                                                    shallow=False), f)


class BankMixTest(unittest.TestCase):
    def test_every_tenth_reader_op_is_an_audit(self):
        kinds = [k for k, _ in gen.reader_plan(1)]
        self.assertEqual(kinds.count("audit") * gen.AUDIT_EVERY, len(kinds))
        self.assertTrue(all((k == "audit") == ((i + 1) % 10 == 0)
                            for i, k in enumerate(kinds)))

    def test_writers_get_disjoint_ids_and_never_the_absent_ones(self):
        d = gen.bank_inputs(1)
        ids = [set(w[:, 0]) for w in d["writers"]]
        self.assertEqual(len(ids), 2)
        self.assertFalse(ids[0] & ids[1])
        given = ids[0] | ids[1] | set(d["warm"][:, 0])
        self.assertFalse(given & set(d["absent"]))
        self.assertTrue(all(t >= gen.TRANSFER_BASE for t in given))

    def test_transfers_move_money_between_two_accounts(self):
        for w in gen.bank_inputs(2)["writers"]:
            self.assertTrue(np.all(w[:, 1] != w[:, 2]))
            self.assertTrue(np.all(w[:, 3] > 0))


class IngestMixTest(unittest.TestCase):
    def test_batches_are_half_updates_half_new_keys(self):
        d = gen.ingest_inputs(1)
        seen = set(range(gen.BASE_ROWS))
        for b in [d["warm"]] + d["batches"]:
            keys = b.column("l_id").to_pylist()
            self.assertEqual(len(keys), gen.BATCH_ROWS)
            self.assertEqual(len(set(keys)), len(keys))
            updates = [k for k in keys if k in seen]
            self.assertEqual(len(updates), gen.BATCH_ROWS // 2)
            self.assertTrue(all(k < gen.BASE_ROWS for k in updates))
            seen |= set(keys)

    def test_reader_cycles_the_three_queries(self):
        plan = gen.ingest_reader_plan(1)
        kinds = [k for k, _, _ in plan]
        for k in gen.QUERY_KINDS:
            self.assertEqual(kinds.count(k) * 3, len(kinds))
        for k, lo, hi in plan:
            self.assertTrue(0 <= lo <= hi < gen.BASE_ROWS)


class OlapTest(unittest.TestCase):
    def test_every_pass_runs_every_lane_once(self):
        passes = gen.lane_passes(1)
        self.assertEqual(len(passes), gen.PASSES)
        for p in passes:
            self.assertEqual(sorted(p), sorted(gen.LANES))
        self.assertGreater(len({tuple(p) for p in passes}), 1)

    def test_fixture_keys_are_dense_and_joinable(self):
        t = gen.olap_tables(1)
        self.assertEqual(t["orders"].column("o_orderkey").to_pylist(), list(range(gen.ORDERS)))
        self.assertLess(max(t["lineitem"].column("l_orderkey").to_pylist()), gen.ORDERS)
        self.assertLess(max(t["orders"].column("o_custkey").to_pylist()), gen.CUSTOMERS)
        self.assertEqual(len(t["embeddings"].column("embedding")[0]), gen.DIM)


if __name__ == "__main__":
    unittest.main()
