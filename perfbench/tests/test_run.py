"""Self-test of the benchmark harness: metric math, the names and units
it prints against BENCHMARK.json, and failure counting.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def op(wall, heap=100.0, recall=1.0, error=None, i=0):
    return {"op": i, "wall_s": wall, "heap_mb": heap, "recall": recall, "error": error}


def span(name, op_id, wall, **kw):
    s = {"id": 0, "name": name, "op": op_id, "parent": -1, "start_s": 0.0, "eager_s": wall / 2,
         "wall_s": wall, "jobs": 3, "tasks": 6, "task_cpu_s": 0.5, "task_run_s": 1.0,
         "shuffle_bytes": 2_000_000, "gc_s": 0.01}
    s.update(kw)
    return s


def raw(ops, warmups=(), spans=()):
    return {"boot_s": 5.0, "prepare_s": [3.0, 1.0, 2.0], "warmup_s": 4.0, "slots": 2,
            "ops": list(ops), "warmups": list(warmups), "spans": list(spans)}


class MetricMath(unittest.TestCase):
    def test_op_p50_is_the_median_op_time(self):
        m = run.end_to_end(raw([op(3.0), op(1.0), op(2.0), op(10.0)]))
        self.assertEqual(m["op_p50_s"]["value"], 2.5)

    def test_setup_takes_the_median_prepare(self):
        m = run.end_to_end(raw([op(1.0)]))
        self.assertEqual(m["setup_s"]["value"], 5.0 + 2.0 + 4.0)

    def test_heap_is_the_peak_and_recall_the_mean(self):
        m = run.end_to_end(raw([op(1.0, heap=90.0, recall=0.9), op(1.0, heap=120.0, recall=0.7)]))
        self.assertEqual(m["heap_peak_mb"]["value"], 120.0)
        self.assertAlmostEqual(m["recall"]["value"], 0.8)

    def test_a_failed_op_counts_as_zero_recall(self):
        m = run.end_to_end(raw([op(1.0), op(1.0, error="wrong rows")]))
        self.assertEqual(m["recall"]["value"], 0.5)

    def test_spread_is_the_quartile_distance_over_the_median(self):
        values = [1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.2, 0.8, 1.0]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(run.spread(values), (q3 - q1) / statistics.median(values))

    def test_span_metrics_are_medians_over_the_timed_ops(self):
        spans = [span("bpe.train", -1, 100.0), span("bpe.train", 0, 2.0),
                 span("bpe.train", 1, 4.0), span("bpe.train", 2, 3.0)]
        m = run.per_layer(raw([op(1.0)], spans=spans))
        self.assertEqual(m["bpe.train.wall_s"]["value"], 3.0)
        self.assertEqual(m["bpe.train.eager_s"]["value"], 1.5)
        self.assertEqual(m["bpe.train.shuffle_mb"]["value"], 2.0)
        self.assertAlmostEqual(m["bpe.train.slot_busy"]["value"], 1.0 / (3.0 * 2))

    def test_a_setup_only_span_reads_from_the_setups(self):
        spans = [span("graph.build", run.SETUP_OP, w) for w in (9.0, 5.0, 6.0)]
        m = run.per_layer(raw([op(1.0)], spans=spans))
        self.assertEqual(m["graph.build.wall_s"]["value"], 6.0)

    def test_a_span_the_workload_skips_reads_zero(self):
        m = run.per_layer(raw([op(1.0)]))
        self.assertEqual(m["glove.train.jobs"]["value"], 0)


class Output(unittest.TestCase):
    def names_units(self, entries):
        return {e["name"]: e["unit"] for e in entries}

    def test_untraced_run_prints_every_end_to_end_metric_with_its_unit(self):
        res = run.result(raw([op(1.0)]), trace=0)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, self.names_units(BENCHMARK["end_to_end"]))

    def test_traced_run_prints_every_per_layer_metric_with_its_unit(self):
        res = run.result(raw([op(1.0)]), trace=1)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, self.names_units(BENCHMARK["per_layer"]))

    def test_every_span_metric_is_declared(self):
        declared = {e["name"] for e in BENCHMARK["per_layer"]}
        for s in run.SPANS:
            for m, _ in run.SPAN_METRICS:
                self.assertIn(f"{s}.{m}", declared)

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in BENCHMARK["workloads"]), run.WORKLOADS)

    def test_result_line_is_json_with_exactly_the_contract_keys(self):
        line = json.dumps(run.result(raw([op(1.0)]), trace=0))
        self.assertEqual(set(json.loads(line)), {"correct", "attempted", "failed", "metrics"})


class FailureCounting(unittest.TestCase):
    def test_failed_ops_are_counted_against_attempted(self):
        res = run.result(raw([op(1.0), op(1.0, error="x"), op(1.0, error="y")]), trace=0)
        self.assertEqual((res["attempted"], res["failed"], res["correct"]), (3, 2, False))

    def test_a_failed_warmup_makes_the_run_incorrect_but_is_not_attempted(self):
        res = run.result(raw([op(1.0)], warmups=[op(1.0, error="x", i=-1)]), trace=0)
        self.assertEqual((res["attempted"], res["failed"], res["correct"]), (1, 0, False))

    def test_all_passing(self):
        res = run.result(raw([op(1.0), op(2.0)]), trace=0)
        self.assertEqual((res["attempted"], res["failed"], res["correct"]), (2, 0, True))


if __name__ == "__main__":
    unittest.main()
