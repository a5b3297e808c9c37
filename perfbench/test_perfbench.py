"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BENCHMARK = os.path.join(HERE, "..", "BENCHMARK.json")
with open(os.path.join(HERE, "spec.json")) as _f:
    SPEC = json.load(_f)


def tree_digest(root):
    """Digest of every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TailRule(unittest.TestCase):
    def test_spec_percentiles_against_the_ten_beyond_rule(self):
        # each workload's tail percentile has ten ops beyond it in a run at
        # HEAD, or the spec says it has not
        for w, s in SPEC["workloads"].items():
            n, p = s["ops_per_run_at_head"], s["tail_percentile"]
            self.assertEqual(stats.beyond(n, p) >= stats.TAIL_MIN_BEYOND,
                             s["tail_rule_met"], w)

    def test_lake_query_runs_a_fixed_count_that_meets_the_rule(self):
        # ceil(run_seconds * 3 / 10) whole rounds per client (LakeQuery.run)
        with open(BENCHMARK) as f:
            rounds = math.ceil(json.load(f)["run_seconds"] * 3 / 10)
        lq = SPEC["workloads"]["lake_query"]
        self.assertEqual(lq["ops_per_run_at_head"],
                         gen.LQ_CLIENTS * rounds * sum(gen.LQ_MIX.values()))
        self.assertTrue(lq["tail_rule_met"])

    def test_beyond_counts_samples_above_the_rank(self):
        self.assertEqual(stats.beyond(100, 90.0), 10)
        self.assertEqual(stats.beyond(101, 90.0), 10)
        self.assertEqual(stats.beyond(99, 90.0), 9)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50.0), 50)
        self.assertEqual(stats.percentile(xs, 90.0), 90)
        self.assertEqual(stats.percentile([7.0], 99.0), 7.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # jobs [10, 40] and [20, 50] overlap by 20: they cover 40 of 100
        self.assertEqual(stats.self_time(0, 100, [(10, 40), (20, 50)]), 60)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time(0, 100, [(-10, 10), (90, 130)]), 80)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(stats.self_time(0, 100,
                                         [(10, 60), (20, 30), (70, 80)]), 40)
        self.assertEqual(stats.self_time(0, 100, []), 100)
        self.assertEqual(stats.self_time(0, 100, [(200, 300)]), 100)


class ErrorFrac(unittest.TestCase):
    def test_failed_over_attempted(self):
        ops = [{"ok": True}] * 6 + [{"ok": False}] * 2
        self.assertEqual(stats.error_frac(ops), 0.25)
        self.assertEqual(stats.error_frac([{"ok": True}]), 0.0)

    def test_no_ops_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.error_frac([])


class MetricNames(unittest.TestCase):
    def test_grammar(self):
        for ok in ("ops_per_s", "vt.commit.wall_ms", "stream.addBatch_ms",
                   "a-b", "9x", "x" * 64):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", ".x", "_x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_names_and_units(self):
        with open(BENCHMARK) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)

    def test_traced_run_reports_every_declared_metric(self):
        got = layers.per_layer(record())
        with open(BENCHMARK) as f:
            declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, declared)


def record(**kw):
    """A traced-run record with nothing in it but what `kw` sets."""
    rec = {"spans": [], "jobs": [], "notes": [], "ops": [],
           "table_roots": [], "extra": {}, "gc_ms": 1.0,
           "setup_end_ms": 0.0, "timed_start_ms": 0.0,
           "timed_end_ms": 1000.0, "fs_global": {"ops": 0, "bytes_read": 0}}
    rec.update(kw)
    return rec


def job(group, start, end, stages=1, tasks=4, input_bytes=100,
        input_records=10):
    return {"id": 0, "group": group, "batch": "", "query": "",
            "start": start, "end": end, "ok": True, "stages": stages,
            "tasks": tasks, "task_ms": 1.0, "wait_ms": 0.0, "gc_ms": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "input_bytes": input_bytes,
            "input_records": input_records, "output_bytes": 0,
            "output_records": 0}


class LayerScope(unittest.TestCase):
    def query(self, op, start, end):
        span = {"id": start, "parent": 0, "name": "sql.parse", "op": op,
                "start": start, "end": end}
        notes = [{"op": op, "name": n, "value": v} for n, v in
                 (("queries", 1), ("rows_out", 5), ("files_read", 2),
                  ("table_files", 4), ("exchanges", 1))]
        return span, notes

    def test_warm_up_ops_do_not_count(self):
        # the warm-up query ran before the timed phase with no job group,
        # so it has notes and a span but no jobs
        warm_span, warm_notes = self.query("warm-up-0", 10.0, 90.0)
        timed_span, timed_notes = self.query("c0-op0", 110.0, 120.0)
        rec = record(
            setup_end_ms=5.0, timed_start_ms=100.0,
            ops=[{"id": "c0-op0", "kind": "point", "client": 0,
                  "start": 110.0, "end": 130.0, "ok": True, "err": "",
                  "rows": 5}],
            spans=[warm_span, timed_span], notes=warm_notes + timed_notes,
            jobs=[job("c0-op0", 112.0, 118.0, stages=2, input_bytes=300,
                      input_records=50)])
        got = layers.per_layer(rec)
        self.assertEqual(got["sql.jobs"][0], 1)
        self.assertEqual(got["sql.stages"][0], 2)
        self.assertEqual(got["scan.bytes_read"][0], 300)
        self.assertEqual(got["scan.rows_per_row_out"][0], 10)
        self.assertEqual(got["sql.parse_ms"][0], 10.0)

    def test_fixture_commits_count(self):
        # lake_query's loads commit during setup; their spans end before
        # the setup's end and report in vt.commit.*
        commit = {"id": 1, "parent": 0, "name": "vt.commit", "op": "setup-load0",
                  "start": 1.0, "end": 41.0}
        rec = record(setup_end_ms=50.0, timed_start_ms=60.0, spans=[commit],
                     jobs=[job("setup-load0", 11.0, 31.0)])
        got = layers.per_layer(rec)
        self.assertEqual(got["vt.commit.wall_ms"][0], 40.0)
        self.assertEqual(got["vt.commit.driver_ms"][0], 20.0)
        self.assertEqual(got["vt.commit.jobs"][0], 1)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in sorted(gen.GENERATORS):
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                self.assertEqual(tree_digest(a), tree_digest(b), w)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.generate("tick_stream", 1, a)
            gen.generate("tick_stream", 2, b)
            self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_tick_files_are_ordered_by_name_and_fixed_mtime(self):
        # the file source orders a drain by mtime, so mtimes are inputs too
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.generate("tick_stream", 3, a)
            gen.generate("tick_stream", 3, b)
            files = sorted(os.listdir(a))
            mtimes = [os.path.getmtime(os.path.join(a, f)) for f in files]
            self.assertEqual(mtimes, sorted(mtimes))
            self.assertEqual(len(set(mtimes)), len(mtimes))
            self.assertEqual(
                mtimes, [os.path.getmtime(os.path.join(b, f)) for f in files])


if __name__ == "__main__":
    unittest.main()
