"""Self-tests of the benchmark harness (no engine needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
from pb import oracle, stats, workloads  # noqa: E402

VECS = np.random.default_rng(0).standard_normal((50, 8))


def inputs(workload, seed, run_dir):
    """The op stream and every input file it names, as bytes."""
    ops = workloads.generate(workload, seed, 30, run_dir, VECS)
    files = b"".join(open(op["path"], "rb").read() for op in ops if "path" in op)
    for op in ops:
        op.pop("path", None)
    return json.dumps(ops, sort_keys=True).encode() + files


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in workloads.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                first, again = inputs(w, 7, a), inputs(w, 7, b)
                self.assertEqual(first, again, w)
                self.assertNotEqual(first, inputs(w, 8, b), w)

    def test_warmup_is_fixed(self):
        with tempfile.TemporaryDirectory() as d:
            one = workloads.generate("lookup", 1, 3, d, warmup=True)
            two = workloads.generate("lookup", 2, 3, d, warmup=True)
            self.assertEqual(one, two)


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(99)), 90)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(39)), 75)
        stats.percentile(list(range(40)), 75)

    def test_median_of_few(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50), 2.0)


class TraceArithmetic(unittest.TestCase):
    MS = 1_000_000  # ns

    def test_self_times_sum_to_op_wall(self):
        ms = self.MS
        base = 1_700_000_000_000 * ms
        op = {"id": 0, "t0": base, "t1": base + 100 * ms}
        spans = [{"name": "parser.parse", "t0": base, "t1": base + 2 * ms},
                 {"name": "compiler.compile", "t0": base + 2 * ms, "t1": base + 20 * ms},
                 {"name": "exec.execute", "t0": base + 20 * ms, "t1": base + 99 * ms}]
        start = base // ms
        jobs = [((start + 40) * ms, (start + 60) * ms), ((start + 55) * ms, (start + 80) * ms)]
        actions = [[("analysis", (start + 5) * ms, (start + 10) * ms),
                    ("optimization", (start + 30) * ms, (start + 35) * ms),
                    ("planning", (start + 35) * ms, (start + 38) * ms)]]
        m = stats.per_op_layers(op, spans, jobs, actions, [])
        self.assertAlmostEqual(m["spark.job_span_ms"], 40.0)
        self.assertAlmostEqual(m["exec.self_ms"], 79 - 40 - 8)
        gap = abs(m["_wall_ms"] - m["_covered_ms"]) / m["_wall_ms"]
        self.assertLessEqual(gap, stats.SELF_TIME_TOLERANCE)
        self.assertAlmostEqual(m["spark.first_job_ms"], 40.0)

    def test_union_clips_and_merges(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.self_time((0, 10), [(2, 4), (3, 6)]), 6)


class PlantedWrongAnswer(unittest.TestCase):
    def test_wrong_output_counts_as_failed(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"o_orderkey": np.arange(5, dtype=np.int64)}),
                           os.path.join(d, "orders.parquet"))
            orc = oracle.Oracle(d)
            ops = [{"id": i, "kind": "stmt", "tpl": "name", "args": {"offs": [i]},
                    "text": f"QUERY 'name:order{i}.com' LIMIT 10;"} for i in range(3)]
            env = lambda k: json.dumps({"result-count": 1, "result": [{"_key": f"order:{k}"}]})
            results = [{"id": 0, "ok": True, "out": env(0)},
                       {"id": 1, "ok": True, "out": env(4)},  # planted: wrong order
                       {"id": 2, "ok": True, "out": env(2)}]
            failures = run.check(orc, ops, results, {})
            self.assertEqual([f[0] for f in failures], [1])
            self.assertIn("name:order1.com", failures[0][1])


if __name__ == "__main__":
    unittest.main()
