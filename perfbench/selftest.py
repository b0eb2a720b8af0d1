"""Self-tests for the benchmark's own arithmetic and generators.

    python3 perfbench/run.py --selftest
"""
import hashlib
import json
import os
import shutil
import tempfile
import time
import unittest

import run


def digest(lines):
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Generators(unittest.TestCase):
    def test_renders_follow_the_seed(self):
        a, b, c = (digest(run.dashboard_renders(s, 200)) for s in (7, 7, 8))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_renders_pick_distinct_tickers_and_a_window(self):
        for line in run.dashboard_renders(3, 200):
            names, frm, to, sector = line.split("|")
            names = names.split(",")
            self.assertTrue(2 <= len(names) <= 5 and len(set(names)) == len(names), line)
            self.assertTrue(run.HISTORY_FROM <= frm < to, line)
            self.assertIn(sector, run.SECTORS)

    def test_render_costs_are_stratified(self):
        import datetime as dt
        n = 8
        width = (run.HISTORY_DAYS - 31) / n
        for seed in (1, 2):
            lines = [l.split("|") for l in run.dashboard_renders(seed, n)]
            self.assertEqual(sorted(len(l[0].split(",")) for l in lines), [2, 2, 3, 3, 4, 4, 5, 5])
            days = sorted((dt.date.fromisoformat(to) - dt.date.fromisoformat(frm)).days
                          for _, frm, to, _ in lines)
            for i, d in enumerate(days):
                self.assertTrue(30 + int(i * width) <= d <= 30 + int((i + 1) * width), (i, d))

    def test_table_thinning_follows_the_seed(self):
        kept = [[k for k in range(2000) if run.keep_key(s, k)] for s in (5, 5, 6)]
        self.assertEqual(kept[0], kept[1])
        self.assertNotEqual(kept[0], kept[2])
        self.assertTrue(0.85 < len(kept[0]) / 2000 < 0.95)

    def test_bars_and_dimension_follow_the_seed(self):
        run.build()
        work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(run.HERE, "target"))
        try:
            out = run.run_jvm("selftest", 11, 0, work, {}, time.monotonic() + run.RUN_LIMIT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        bars, dims = out["bars"], out["dimension"]
        self.assertEqual(bars[0], bars[1])
        self.assertNotEqual(bars[0], bars[2])
        self.assertEqual(dims[0], dims[1])
        self.assertNotEqual(dims[0], dims[2])


class Median(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(run.median([]))


class Names(unittest.TestCase):
    def test_grammar(self):
        for good in ("setup_s", "pipeline.ingest_s", "a-b.c_d", "9x"):
            self.assertTrue(run.valid_name(good), good)
        for bad in ("", ".x", "a b", "x/y", "é", "a" * 65):
            self.assertFalse(run.valid_name(bad), bad)

    def test_emitted_names_match_the_benchmark_file(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)
        for name in list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]:
            self.assertTrue(run.valid_name(name), name)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_children_covering_time_once(self):
        spans = [self.span(0, -1, 0.0, 10.0),
                 self.span(1, 0, 1.0, 3.0), self.span(2, 0, 2.0, 5.0),
                 self.span(3, 0, 6.0, 7.0), self.span(4, 3, 6.0, 6.5)]
        st = run.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[3], 0.5)
        self.assertAlmostEqual(st[4], 0.5)

    def test_child_clipped_to_parent(self):
        st = run.self_times([self.span(0, -1, 0.0, 4.0), self.span(1, 0, 3.0, 6.0)])
        self.assertAlmostEqual(st[0], 3.0)


if __name__ == "__main__":
    unittest.main()
