"""Checks BENCHMARK.json against the limits its runner promises."""
import json
import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_keys(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})

    def test_names_and_units(self):
        names = [w["name"] for w in self.spec["workloads"]]
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            names.append(m["name"])
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)), "names must be unique")

    def test_end_to_end_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        for m in e2e.values():
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m)
        self.assertEqual(max(m["bound"] for m in e2e.values()), e2e["setup_s"]["bound"])
        for m in self.spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_workloads_and_paths(self):
        self.assertTrue(2 <= len(self.spec["workloads"]) <= 8)
        for w in self.spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for p in self.spec["paths"]:
            self.assertTrue(os.path.isdir(os.path.join(ROOT, p)), p)
            self.assertRegex(p, r"^[A-Za-z0-9_.\-/]{1,200}$")
        for arg in self.spec["command"]:
            self.assertFalse(arg.startswith("/") or ".." in arg, arg)
        self.assertTrue(1 <= self.spec["run_seconds"] <= 60)


if __name__ == "__main__":
    unittest.main()
