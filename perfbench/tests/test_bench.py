"""Tests of the benchmark's own logic. Run: python3 -m unittest discover -s perfbench/tests"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertAlmostEqual(stats.percentile(list(range(100)), 0.9), 89.1)

    def test_median_from_one_sample_and_none_from_none(self):
        self.assertEqual(stats.percentile([7.0], 0.5), 7.0)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5), 2.5)

    def test_kind_median_ignores_how_many_of_each_kind(self):
        ops = [{"name": n, "ms": ms} for n, ms in
               [("a", 10), ("a", 12), ("a", 11), ("b", 100), ("c", 50), ("c", 52)]]
        self.assertEqual(stats.kind_median(ops), 51)
        self.assertEqual(stats.kind_median(ops + [{"name": "a", "ms": 11}] * 5), 51)
        self.assertIsNone(stats.kind_median([]))


class SpanSelfTimeTest(unittest.TestCase):
    def span(self, layer, start, end, op=1):
        return {"layer": layer, "name": layer, "start": start, "end": end, "op": op}

    def test_self_time_is_length_minus_children(self):
        spans = [
            self.span("op", 0, 100),
            self.span("catalyst", 0, 10),
            self.span("job", 20, 80),
            self.span("stage", 25, 75),
            self.span("storage", 30, 40, op=-1),  # executor side, found by window
            self.span("storage", 35, 45, op=-1),  # overlaps the one above
            self.span("storage", 90, 95, op=-1),  # driver side, outside any job
            self.span("storage", 200, 210, op=-1),  # outside every op: dropped
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], 100 - 10 - 60 - 5)
        self.assertEqual(st["catalyst"], 10)
        self.assertEqual(st["job"], 60 - 50)
        self.assertEqual(st["stage"], 50 - 15)
        self.assertEqual(st["storage"], 10 + 10 + 5)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (30, 31)]), 21)


class ModelTest(unittest.TestCase):
    initial = {1: (10, "O", 500, "1-URGENT"), 2: (20, "F", 700, "2-HIGH"), 3: (30, "P", 900, "5-LOW")}

    def test_statements_apply_and_snapshot(self):
        m = workloads.Model(self.initial)
        self.assertEqual(m.apply({"op": "update", "lo": 2, "hi": 3, "delta": 5, "stmt": 1}), 2)
        self.assertEqual(m.rows[2], (20, "U", 705, "2-HIGH"))
        self.assertEqual(m.apply({"op": "delete_keys", "keys": [1, 99], "stmt": 2}), 1)
        self.assertEqual(m.apply({"op": "merge", "rows": {3: (1, "M", 1, "x"), 4: (2, "M", 2, "y")}, "stmt": 3}), 2)
        self.assertEqual(m.apply({"op": "delete_range", "lo": 4, "hi": 9, "stmt": 4}), 1)
        self.assertEqual(m.apply({"op": "optimize", "stmt": 5}), 0)
        self.assertEqual(sorted(m.rows), [2, 3])
        self.assertEqual(m.snapshots[0], self.initial)
        self.assertEqual(sorted(m.snapshots[3]), [2, 3, 4])
        self.assertEqual(m.snapshots[4], m.snapshots[5])

    def test_digest_matches_the_driver_row_format(self):
        # the driver digests rows as "k|cust|status|cents|prio", sorted, one per line
        import hashlib
        want = hashlib.sha256(b"1|10|O|500|1-URGENT\n2|20|F|700|2-HIGH\n3|30|P|900|5-LOW\n").hexdigest()
        self.assertEqual(workloads.Model.digest(self.initial), want)

    def test_stream_is_seeded_and_touches_live_keys(self):
        initial = {k: (k, "O", k * 100, "1-URGENT") for k in range(200)}
        blocks = workloads.statements(7, initial, 12)
        self.assertEqual(blocks, workloads.statements(7, initial, 12))
        self.assertNotEqual(blocks, workloads.statements(8, initial, 12))
        for b in blocks:
            self.assertEqual(sorted(s["op"] for s in b), sorted(workloads.BLOCK))
        m = workloads.Model(initial)
        for s in (s for b in blocks for s in b):
            if "stmt" in s:
                touched = m.apply(s)
                if s["op"] != "optimize":
                    self.assertGreater(touched, 0, s)
            elif s["op"] == "read_version":
                self.assertIn(s["of"], m.snapshots)

    def test_sql_names_the_table(self):
        s = {"op": "merge", "rows": {5: (1, "M", 2, "x")}}
        self.assertIn("MERGE INTO bench_cat.ws.mor", workloads.sql_for(s, "mor"))
        self.assertIn("VERSION AS OF {v:3}", workloads.sql_for({"op": "read_version", "of": 3}, "cow"))


class MetricNamesTest(unittest.TestCase):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def op(self, kind, table=None):
        fs = {n: 1 for op in stats.FS_OPS for n in (f"{op}.calls", f"{op}.ns")}
        fs.update(read_bytes=1, data_read_bytes=1, write_bytes=1, not_found=0, data_files_created=1)
        layers = {k: 1 for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ms",
                                 "task_wait_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                                 "spill_bytes", "analysis_ms", "optimization_ms", "planning_ms", "executions")}
        layers["job_intervals"] = [[0, 1]]
        o = {"name": "x", "kind": kind, "ms": 2.0, "traced": True, "fs": fs, "layers": layers,
             "gc_ms": 0, "gc_count": 0, "build_ms": 1.0, "action_ms": 1.0}
        if table:
            o["table"] = table
        return o

    def test_end_to_end_names_and_units(self):
        metrics, _ = run.end_to_end([self.op("read"), self.op("commit")], 1.0)
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in metrics.items()}, want)

    def test_per_layer_names_and_units(self):
        ops = [self.op("read", "cow"), self.op("commit", "cow")]
        layer = stats.layer_metrics(ops, 4, [])
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual({k: run.unit(k) for k in layer}, want)

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
