"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The input-determinism test builds the harness (``perfbench/build.py``) and
starts two short JVMs; the others are pure Python.
"""
import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from stats import self_time, tail  # noqa: E402


class TailRule(unittest.TestCase):
    def test_none_when_too_few(self):
        self.assertIsNone(tail([]))
        self.assertIsNone(tail([1.0] * 10))

    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 41)]  # 1..40, shuffled below
        xs = xs[::2] + xs[1::2]
        value, pct, n = tail(xs)
        self.assertEqual((value, pct, n), (30.0, 75.0, 40))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_eleven_samples(self):
        value, pct, n = tail([5.0, 1.0, 2.0, 3.0, 4.0, 6.0, 7.0, 8.0, 9.0,
                              10.0, 11.0])
        self.assertEqual(value, 1.0)
        self.assertAlmostEqual(pct, 100.0 / 11)
        self.assertEqual(n, 11)


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        # children overlap each other and stick out of the parent on both
        # sides; covered: [0,5] + [10,50] + [90,100] = 55 of 100
        children = [(10, 30), (20, 50), (90, 120), (-5, 5)]
        self.assertEqual(self_time((0, 100), children), 45)

    def test_no_children_and_full_cover(self):
        self.assertEqual(self_time((3, 7), []), 4)
        self.assertEqual(self_time((3, 7), [(0, 10)]), 0)

    def test_parallel_spans_of_one_layer_count_once(self):
        spans = [
            {"id": 1, "parent": -1, "layer": "exec", "start_us": 0,
             "end_us": 100},
            {"id": 2, "parent": 1, "layer": "stage", "start_us": 10,
             "end_us": 60},
            {"id": 3, "parent": 1, "layer": "stage", "start_us": 20,
             "end_us": 70},
        ]
        by_layer = layers.self_by_layer(spans)
        self.assertAlmostEqual(by_layer["stage"], 60e-6)
        self.assertAlmostEqual(by_layer["exec"], 40e-6)


def _span(i, parent, trace, name, layer, start, end, **attrs):
    return {"id": i, "parent": parent, "trace": trace, "name": name,
            "layer": layer, "start_us": start, "end_us": end, "attrs": attrs}


def _stage(i, stage_id, start, end):
    return _span(i, -1, "", "stage", "exec", start, end, stage_id=stage_id,
                 tasks=4, run_ms=40, cpu_ns=3e7, gc_ms=1,
                 shuffle_write_bytes=10, shuffle_write_ns=5,
                 shuffle_read_bytes=10, fetch_wait_ms=0, spill_disk_bytes=0,
                 input_bytes=100, input_records=10, task_max_ms=12,
                 task_median_ms=10)


class DeclaredNames(unittest.TestCase):
    """Every metric name the report prints is declared in BENCHMARK.json,
    and each mode prints exactly the declared set."""

    def setUp(self):
        self.e2e, self.per_layer = run.declared()
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def raw(self, workload):
        spans = os.path.join(self.tmp.name, f"{workload}.jsonl")
        if workload.startswith("stream_"):
            records = [
                _span(1, -1, "trigger:2", "trigger", "stream.trigger", 0,
                      1000, rows=10),
                _span(2, 1, "trigger:2", "addBatch", "stream.addBatch", 10,
                      990),
                _span(3, -1, "trigger:2", "sink:mastodon_posts", "sink", 20,
                      400),
                _span(4, -1, "trigger:2", "store.write", "store", 400, 900),
                _span(5, -1, "trigger:2", "job", "share", 30, 300,
                      stage_ids=[7], checkpoint=True),
                _stage(6, 7, 40, 290),
                _span(8, -1, "trigger:1", "job", "exec", 0, 5, stage_ids=[]),
                _span(9, -1, "parse", "parse", "parse", 2000, 2100),
            ]
        else:
            records = [
                _span(1, -1, "pass0", "pass", "client", 0, 1000),
                _span(2, 1, "pass0:q", "query", "client", 0, 1000),
                _span(3, 2, "pass0:q", "build", "entry", 0, 100),
                _span(4, 2, "pass0:q", "plan", "plan", 100, 200),
                _span(5, 2, "pass0:q", "exec", "exec", 200, 1000),
                _span(6, -1, "pass0:q", "job", "exec", 50, 90, stage_ids=[3]),
                _stage(7, 3, 55, 85),
            ]
        with open(spans, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in records)
        ops = [{"id": 2, "wall_s": 1.0, "rows": 10},
               {"id": 3, "wall_s": 1.2, "rows": 10}]
        raw = {"workload": workload, "seed": 1, "cores": 4,
               "main_epoch_ms": 1000.0, "session_s": 1.0,
               "prep_s": [0.1, 0.2, 0.3], "warm_s": 2.0, "ops": ops,
               "input_rows_per_op": 10, "retained_heap_mb": 50.0,
               "attempted": 2, "failed": 0, "errors": [],
               "traced": {"ops": ops, "ref_ops": ops, "wall_s": 2.2,
                          "warm_triggers": 2, "jvm_gc_s": 0.1,
                          "heap_peak_mb": 100.0, "block_bytes_peak": 5,
                          "nonempty_frac": 1.0, "spans_file": spans}}
        if workload == "stream_ingest":
            raw.update(sink_bytes=1000, sink_triggers=4)
            raw["traced"].update(sink_bytes=1000, sink_files=6,
                                 parse_s=[0.1, 0.2, 0.3])
            raw["baseline"] = {"ops": ops, "input_rows_per_op": 10}
        if workload == "stream_neardup":
            raw["read_view_s"] = [0.1, 0.2, 0.3]
            raw["store"] = {"bytes": 100, "docs": 10}
            raw["compacting_ops"] = [3]
            raw["traced"].update(compacting_ops=[3], store_bytes=100, store_files=4,
                                 store_docs=10, compactions=1,
                                 read_view_s=[0.1])
        if workload.startswith("batch_"):
            raw["queries"] = []
            raw["ops"] = raw["traced"]["ops"] = raw["traced"]["ref_ops"] = [
                {"wall_s": 1.0, "queries": {"q": 1.0}, "failed": 0}]
        return raw

    def printed(self, raw, trace):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            metrics, _, _ = run.report(raw, 0.5, trace, self.e2e,
                                       self.per_layer)
        names = set()
        for line in out.getvalue().splitlines():
            parts = line.split()
            if len(parts) >= 3 and parts[1] == "=":
                names.add(parts[0])
        return metrics, names

    def test_every_workload_and_mode(self):
        declared = set(self.e2e) | set(self.per_layer)
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    metrics, names = self.printed(self.raw(workload), trace)
                    self.assertLessEqual(names, declared)
                    self.assertEqual(set(metrics),
                                     set(self.per_layer if trace else self.e2e))

    def test_benchmark_json_lists_workloads_the_runner_has(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertLessEqual({w["name"] for w in spec["workloads"]},
                             set(run.WORKLOADS))


class GeneratedInputs(unittest.TestCase):
    """Same seed, byte-identical inputs (across JVMs); another seed,
    different inputs."""

    def digest(self, seeds, work):
        out = os.path.join(work, "digest.json")
        classpath = build.ensure()
        subprocess.run(build.java_cmd(classpath, work, [
            "--mode", "digest", "--seeds", seeds, "--data", run.DATA,
            "--work", work, "--out", out]), check=True, cwd=work, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL)
        with open(out) as f:
            return json.load(f)

    def test_seeded_generators(self):
        os.makedirs(build.OUT, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.OUT) as work:
            first = self.digest("1,2", work)
            again = self.digest("1", work)
        self.assertEqual(first["1"], again["1"])
        for gen in ("toots", "docs"):
            self.assertNotEqual(first["1"][gen], first["2"][gen])


if __name__ == "__main__":
    unittest.main()
