"""Tests of the benchmark itself: the percentile rule, seeded generation, the
span arithmetic of the traced run, and a smoke run of every workload.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(os.path.dirname(HERE), ".bench_build")
ANCHORS = {"nation": list(range(25)), "region": list(range(5)),
           "supplier": list(range(25)), "segment": list(range(5)),
           "supplier_stride": 7}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        # p90 needs 100 samples, p75 needs 40.
        self.assertEqual(stats.tail(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(ValueError):
            stats.tail(list(range(1, 100)), 0.9)
        self.assertEqual(stats.tail(list(range(1, 41)), 0.75), 30)
        with self.assertRaises(ValueError):
            stats.tail(list(range(1, 40)), 0.75)

    def test_ties_at_the_tail_do_not_count_as_beyond(self):
        values = [1.0] * 95 + [2.0] * 5
        with self.assertRaises(ValueError):
            stats.tail(values, 0.9)


class MedianEstimate(unittest.TestCase):
    def test_harrell_davis_median(self):
        self.assertAlmostEqual(stats.median_hd([7.0]), 7.0)
        self.assertAlmostEqual(stats.median_hd([1, 2, 3, 4, 5]), 3.0, 6)
        # Weighted mean of all order statistics: between the middle two of
        # a gapped sample, pulled by its neighbours.
        m = stats.median_hd([1, 1, 1, 10, 10, 10])
        self.assertAlmostEqual(m, 5.5, 6)
        self.assertLess(stats.median_hd([1, 1, 1, 1, 10, 10]), 5.5)


class Generation(unittest.TestCase):
    def test_plans_repeat_per_seed_and_differ_across_seeds(self):
        for w in ("efo1_exact", "ranked_iterative_ingest"):
            a = gen.plan(w, 3, ANCHORS, 0.0002)
            self.assertEqual(a, gen.plan(w, 3, ANCHORS, 0.0002))
            self.assertNotEqual(a["ops"], gen.plan(w, 4, ANCHORS, 0.0002)["ops"])

    def test_every_round_has_the_same_op_mix(self):
        for w in ("efo1_exact", "ranked_iterative_ingest"):
            p = gen.plan(w, 5, ANCHORS, 0.0002)
            n = p["round_len"]
            warm = sorted(json.dumps(o, sort_keys=True)
                          for o in p["warm"][:n])
            for r in range(0, len(p["ops"]), n):
                got = sorted(json.dumps(o, sort_keys=True)
                             for o in p["ops"][r:r + n])
                self.assertEqual(got, warm)

    def test_tables_are_identical_per_seed_with_fixed_sizes(self):
        os.makedirs(BUILD, exist_ok=True)

        def digest(d):
            h = hashlib.sha256()
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
            return h.hexdigest()

        with tempfile.TemporaryDirectory(dir=BUILD) as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            anchors = gen.make_tables(a, 0.0002, 11)
            self.assertEqual(anchors, gen.make_tables(b, 0.0002, 11))
            gen.make_tables(c, 0.0002, 12)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            import pyarrow.parquet as pq
            for t in ("customer", "orders", "lineitem", "documents"):
                self.assertEqual(
                    pq.ParquetFile(f"{a}/{t}.parquet").metadata.num_rows,
                    pq.ParquetFile(f"{c}/{t}.parquet").metadata.num_rows)


def span(i, parent, op, layer, name, start, end, phase="timed", **attrs):
    return dict(id=i, parent=parent, op=op, phase=phase, layer=layer,
                name=name, start=start, end=end, attrs=attrs)


def job(span_id, start, end, tasks=1, cpu_ns=0):
    return dict(id=0, span=span_id, start=start, end=end, tasks=tasks,
                retries=0, cpu_ns=cpu_ns, shuffle_read_records=0,
                shuffle_read_bytes=0, shuffle_write_bytes=0)


class SpanArithmetic(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(1, -1, 0, "bench", "op", 0, 10),
                 span(2, 1, 0, "exec.hard", "call", 1, 4),
                 span(3, 1, 0, "exec.hard", "action", 3, 8)]
        self.assertEqual(stats.self_times(spans), {1: 3, 2: 3, 3: 5})

    def test_layers_and_client_time_account_for_the_measured_wall(self):
        spans = [span(1, -1, 0, "bench", "op", 0, 10),
                 span(2, 1, 0, "exec.hard", "call", 0.5, 2),
                 span(3, 2, 0, "metric", "call", 1, 1.5),
                 span(4, 1, 0, "exec.hard", "action", 2, 9),
                 # A traced-only call next to the op is not part of its wall.
                 span(5, -1, 0, "lang", "call", -3, -1)]
        rows = stats.op_accounting(spans, [{"op": 0, "ms": 10.0}])
        self.assertEqual(rows, [dict(op=0, wall_ms=10.0, layers_ms=8.5,
                                     client_ms=1.5, gap_ms=0.0)])
        self.assertEqual(stats.unaccounted(rows), [])

    def test_a_wall_the_spans_do_not_cover_is_unaccounted(self):
        # The client measured 30 ms, the op's spans cover 10: time spent
        # outside the op's span tree.
        spans = [span(1, -1, 0, "bench", "op", 0, 10),
                 span(2, 1, 0, "exec.hard", "call", 0, 9),
                 span(3, -1, 1, "bench", "op", 20, 25)]
        rows = stats.op_accounting(
            spans, [{"op": 0, "ms": 30.0}, {"op": 1, "ms": 5.01}])
        self.assertEqual([r["op"] for r in stats.unaccounted(rows)], [0])
        self.assertAlmostEqual(rows[0]["gap_ms"], 20.0)
        # An op without a root span is unaccounted too.
        self.assertEqual(stats.unaccounted(stats.op_accounting(
            spans, [{"op": 7, "ms": 4.0}]))[0]["op"], 7)

    def test_driver_only_is_span_time_outside_its_jobs(self):
        spans = [span(1, -1, 0, "bench", "op", 0, 10),
                 span(2, 1, 0, "exec.hard", "call", 0, 2),
                 span(3, 1, 0, "exec.hard", "action", 2, 10, answers=4)]
        jobs = [job(3, 3, 5, tasks=4, cpu_ns=2_000_000),
                job(3, 4, 8, tasks=2)]
        m = stats.layer_metrics(spans, jobs)
        self.assertEqual(m["exec.hard.call_ms"], (2, "ms"))
        self.assertEqual(m["exec.hard.action_ms"], (8, "ms"))
        self.assertEqual(m["exec.hard.jobs"], (2, "count"))
        self.assertEqual(m["exec.hard.tasks"], (6, "count"))
        self.assertEqual(m["exec.hard.executor_cpu_ms"], (2, "ms"))
        # 10 ms of span, jobs cover 3..8 = 5 ms.
        self.assertEqual(m["exec.hard.driver_only_ms"], (5, "ms"))
        names = {n for n, _ in stats.EXTRA_METRICS} | {
            f"{layer}.{m}" for layer, ms in stats.LAYERS.items() for m in ms}
        self.assertEqual(set(m), names)

    def test_warm_up_spans_are_left_out_of_layer_means(self):
        timed = [span(1, -1, 0, "bench", "op", 0, 10),
                 span(2, 1, 0, "exec.hard", "call", 0, 2),
                 span(3, -1, -1, "model", "call", 0, 50, phase="setup")]
        warm = [span(4, -1, -1, "exec.hard", "call", 20, 120, phase="warm")]
        jobs = [job(2, 0, 1), job(4, 20, 100), job(3, 0, 40)]
        m = stats.layer_metrics(timed + warm, jobs)
        self.assertEqual(m["exec.hard.call_ms"], (2, "ms"))
        self.assertEqual(m["exec.hard.jobs"], (1, "count"))
        self.assertEqual(m["model.call_ms"], (50, "ms"))
        self.assertEqual(m["model.jobs"], (1, "count"))


class Smoke(unittest.TestCase):
    """Every workload end to end at the smallest scale: builds if needed,
    runs, and every output check passes."""

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "1", "--seconds", "1", "--trace",
             str(trace), "--scale", "0.001"],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_every_workload(self):
        for w in ("efo1_exact", "ranked_iterative_ingest"):
            line = self.run_bench(w, 0)
            self.assertTrue(line["correct"], line)
            self.assertEqual(line["failed"], 0)
            self.assertEqual(set(line["metrics"]),
                             {"setup_s", "op_p50_ms", "ops_per_s",
                              "cached_mb_end"})

    def test_traced_run_reports_every_layer(self):
        line = self.run_bench("efo1_exact", 1)
        self.assertTrue(line["correct"], line)
        for layer in stats.LAYERS:
            self.assertGreater(line["metrics"][f"{layer}.call_ms"]["value"],
                               0, layer)


if __name__ == "__main__":
    unittest.main()
