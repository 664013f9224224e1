import json
import unittest
from pathlib import Path

import run

BENCHMARK = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())


class ContractTest(unittest.TestCase):
    def test_workloads_are_the_runners(self):
        for w in BENCHMARK["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_setup_time_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in BENCHMARK["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))

    def test_summary_line_fits_the_kept_tail(self):
        # the longest a traced and an untraced summary line can get
        end_to_end, per_layer = run.declared()
        for metrics in (
                {k: {"value": -1234567.8901234567, "unit": u}
                 for k, u in end_to_end.items()},
                {k: {"value": float(f"{-1.23456789e12:.6g}"), "unit": u}
                 for k, u in per_layer.items()}):
            line = json.dumps({"correct": True, "attempted": 10**9, "failed": 10**9,
                               "metrics": metrics}, separators=(",", ":"))
            self.assertLess(len(line), 2000)


if __name__ == "__main__":
    unittest.main()
