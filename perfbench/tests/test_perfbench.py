"""Tests of the benchmark's own code: statistics, the metric-name grammar,
BENCHMARK.json, the per-layer bookkeeping, the oracle verdicts and the
input generators.

Run from the root of the repository:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0]), 3.0)
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_tail_keeps_ten_samples_beyond(self):
        for n in (11, 20, 26, 60, 100, 1000):
            xs = [float(i) for i in range(1, n + 1)]
            p, value, count = stats.tail(xs)
            self.assertEqual(count, n)
            beyond = sum(1 for x in xs if x > value)
            self.assertGreaterEqual(beyond, 10, (n, p))
            # the next whole percentile would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - (n * (p + 1) + 99) // 100, 10, (n, p))

    def test_tail_examples(self):
        xs = [float(i) for i in range(1, 61)]
        self.assertEqual(stats.tail(xs), (83, 50.0, 60))
        self.assertEqual(stats.tail([float(i) for i in range(1, 101)]), (90, 90.0, 100))

    def test_tail_with_too_few_samples_is_the_median(self):
        self.assertEqual(stats.tail([1.0, 2.0, 3.0]), (50, 2.0, 3))


class NameGrammarTest(unittest.TestCase):
    def test_grammar(self):
        for ok in ("setup_s", "op_ms_p50", "query.q22_multi_join_agg.cold_s",
                   "streaming.lake.addBatch_ms", "a-b.c_d", "9x"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "slash/x", "ünï", "x" * 65):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_follows_the_grammar(self):
        b = benchmark()
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)), "names are used once")
        for n in names:
            self.assertTrue(stats.valid_name(n), n)

    def test_benchmark_json_shape(self):
        b = benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        unit = r"^[A-Za-z0-9_/%.-]{1,16}$"
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            self.assertRegex(m["unit"], unit)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], unit)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in b["end_to_end"])}])


class LayerMetricsTest(unittest.TestCase):
    def test_missing_and_undeclared_layers_are_reported(self):
        declared = [m["name"] for m in benchmark()["per_layer"]]
        query = {n: 1.0 for n in declared if not n.startswith(run.ONLY["telemetry"])}
        result, problems = run.layer_metrics("query_session", query)
        self.assertEqual(problems, [])
        self.assertEqual(set(result), set(declared))
        self.assertEqual(result["streaming.lake.batches"]["value"], 0.0)
        query.pop("query.build_ms")
        query["query.nonsense"] = 1.0
        _, problems = run.layer_metrics("query_session", query)
        self.assertEqual(problems, ["layer query.nonsense is not declared",
                                    "layer query.build_ms was not measured"])


class OracleVerdictTest(unittest.TestCase):
    def test_every_query_gets_a_verdict(self):
        out = ("OK   q70_tfidf (120 rows)\n"
               "FAIL q46_minhash_lsh_pairs: rows want=3 got=2\n"
               "ERR  q62_dedup_clusters: Binder Error\n")
        names = ["q70_tfidf", "q46_minhash_lsh_pairs", "q62_dedup_clusters", "q270_x"]
        v = run.oracle_verdicts(out, names, 1)
        self.assertIsNone(v["q70_tfidf"])
        self.assertIn("rows want=3", v["q46_minhash_lsh_pairs"])
        self.assertIn("Binder Error", v["q62_dedup_clusters"])
        self.assertIn("no verdict", v["q270_x"])


def max_abs_z(sig):
    sd = np.std(sig)
    return float(np.max(np.abs(sig - np.mean(sig))) / sd) if sd > 0 else 0.0


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen.telemetry(a, 5, files=3, per_file=300, long_every=2, long_len=256)
            mb = gen.telemetry(b, 5, files=3, per_file=300, long_every=2, long_len=256)
            self.assertEqual(ma, mb)
            for f in sorted(os.listdir(os.path.join(a, "backlog"))):
                with open(os.path.join(a, "backlog", f), "rb") as x, \
                        open(os.path.join(b, "backlog", f), "rb") as y:
                    self.assertEqual(x.read(), y.read(), f)

    def test_planted_counts(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.telemetry(d, 7, files=4, per_file=1000, long_every=2, long_len=256)
            t = pq.read_table(os.path.join(d, "backlog")).to_pydict()
            self.assertEqual(len(t["id"]), m["records"])
            ids = t["id"]
            for rid in m["retry_ids"]:
                self.assertEqual(ids.count(rid), 2)
            for rid in m["dlq_ids"]:
                self.assertEqual(ids.count(rid), gen.MAX_RETRIES)
            self.assertEqual(m["late_rows"], len(m["late_ids"]))
            self.assertGreater(m["late_rows"], 0)
            self.assertGreater(m["retry_rows"] + m["dlq_rows"], 0)
            lengths = sorted({len(s) for s in t["signal"]})
            self.assertEqual(lengths, [10, 20, 256])
            self.assertEqual(sum(1 for s in t["signal"] if len(s) == 256), m["long_records"])

    def test_valid_and_invalid_signals(self):
        rng = np.random.default_rng(1)
        for length in (10, 2048):
            for _ in range(200 if length == 10 else 20):
                self.assertLessEqual(max_abs_z(gen._normal_signal(rng, length)), 4.0)
        for _ in range(200):
            self.assertGreater(max_abs_z(gen._spike_signal(rng, 10)), 4.0)

    def test_tables_are_seeded(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.tables(a, 3, 0.001)
            gen.tables(b, 3, 0.001)
            for t in ("orders", "documents", "embeddings", "events"):
                self.assertTrue(pq.read_table(os.path.join(a, f"{t}.parquet")).equals(
                    pq.read_table(os.path.join(b, f"{t}.parquet"))), t)


if __name__ == "__main__":
    unittest.main()
