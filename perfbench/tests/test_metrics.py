"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import importlib.util
import json
import math
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

from graftbench import metrics, oracle  # noqa: E402
from graftbench.workloads import WORKLOADS  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_tail_percentile_keeps_ten_beyond(self):
        for n in range(11, 400):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            v = metrics.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # and p is the highest whole percentile that does
            if p < 99:
                v2 = metrics.percentile(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > v2), 10, n)

    def test_tail_percentile_small_samples(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(24), 58)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertEqual(metrics.percentile(xs, 1), 1)
        self.assertEqual(metrics.percentile(list(range(1, 11)), 90), 9)

    def test_failed_calls_are_over_every_limit(self):
        calls = [{"ok": True, "call_s": 0.5}] * 3 + [{"ok": False, "call_s": 0.1}]
        ts = [metrics.call_time(c) for c in calls]
        self.assertTrue(math.isinf(metrics.percentile(ts, 100)))
        self.assertEqual(metrics.finite(metrics.percentile(ts, 100)),
                         metrics.OVER_LIMIT_S)
        self.assertEqual(metrics.percentile(ts, 50), 0.5)


def span(i, parent, layer, start, end, name="x"):
    return {"id": i, "parent": parent, "layer": layer, "name": name,
            "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_children_covering_parent(self):
        p = span(1, 0, "driver", 0.0, 10.0)
        kids = [span(2, 1, "operators", 0.5, 4.0), span(3, 1, "sink", 4.0, 9.5)]
        self.assertAlmostEqual(metrics.self_time(p, kids), 1.0)

    def test_overlapping_and_clipped_children(self):
        p = span(1, 0, "driver", 0.0, 10.0)
        kids = [span(2, 1, "a", 1.0, 5.0), span(3, 1, "a", 3.0, 6.0),
                span(4, 1, "a", 9.0, 12.0), span(5, 1, "a", 11.0, 13.0)]
        self.assertAlmostEqual(metrics.self_time(p, kids), 10.0 - 5.0 - 1.0)

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time(span(1, 0, "a", 2.0, 3.5), []), 1.5)

    def test_max_concurrency(self):
        self.assertEqual(metrics.max_concurrency([]), 0)
        self.assertEqual(metrics.max_concurrency([(0, 1), (1, 2)]), 1)
        self.assertEqual(metrics.max_concurrency([(0, 3), (1, 2), (1.5, 4)]), 3)


def fake_result():
    """Cold pass + four warm passes (1 and 3 traced), two keys per pass."""
    passes, spans, jobs, stages, tasks = [], [], [], [], []
    sid = 0
    job_id = stage_id = 0
    t = 0.0
    for i in range(5):
        traced = i in (0, 1, 3)
        calls = []
        if traced:
            sid += 1
            pass_id = sid
            spans.append(span(pass_id, 0, "driver", t, None, f"pass:pass{i}"))
        start = t
        for key in ("a", "b"):
            c0 = t
            if traced:
                sid += 1
                call_id = sid
                sid += 1
                spans.append(span(sid, call_id, "operators", t, t + 0.3))
                jobs.append({"id": job_id, "span": sid, "start": t + 0.05,
                             "end": t + 0.25, "ok": True})
                stages.append({"id": stage_id, "attempt": 0, "job": job_id,
                               "submitted": t + 0.05, "completed": t + 0.25})
                tasks.append([stage_id, t + 0.07, t + 0.25, True, 0.1, 0.18,
                              0.0, 100, 10, 0, 50, 0])
                job_id += 1
                stage_id += 1
                sid += 1
                spans.append(span(sid, call_id, "sink", t + 0.3, t + 0.9))
                jobs.append({"id": job_id, "span": sid, "start": t + 0.3,
                             "end": t + 0.9, "ok": True})
                stages.append({"id": stage_id, "attempt": 0, "job": job_id,
                               "submitted": t + 0.3, "completed": t + 0.9})
                # one tiny task that outlives its call (an orphan)
                tasks.append([stage_id, t + 0.4, t + 1.2, True, 0.2, 0.5,
                              0.01, 0, 0, 10, 0, 0])
                job_id += 1
                stage_id += 1
                spans.append(span(call_id, pass_id, "driver", c0, t + 1.0, f"call:{key}"))
            t += 1.0
            calls.append({"key": key, "ok": True, "call_s": 1.0, "build_s": 0.3})
        if traced:
            spans[[s["id"] for s in spans].index(pass_id)]["end"] = t
        passes.append({"pass": i, "wall_s": t - start, "traced": traced,
                       "index_bytes_written": 1000 if i == 0 else 0,
                       "index_artifacts": 2, "calls": calls})
    trace = {"spans": sorted(spans, key=lambda s: s["id"]), "jobs": jobs,
             "stages": stages, "tasks": tasks,
             "task_columns": ["stage", "launch", "finish", "ok", "cpu_s", "run_s",
                              "gc_s", "input_bytes", "input_records",
                              "shuffle_read_bytes", "shuffle_write_bytes",
                              "spill_bytes"]}
    return {"passes": passes, "trace": trace, "peak_rss_mb": 900.0,
            "heap_after_gc_mb": 100.0}


class Aggregation(unittest.TestCase):
    def test_end_to_end_uses_untraced_warm_passes(self):
        r = fake_result()
        r["passes"][2]["wall_s"] = 3.0
        r["passes"][4]["wall_s"] = 5.0
        for p in r["passes"][2::2]:
            p["calls"] = p["calls"] * 6
        e2e, samples = metrics.end_to_end(r, [1.0, 3.0, 2.0], 1)
        self.assertEqual(e2e["setup_s"], (2.0, "s"))
        self.assertEqual(e2e["cold_pass_s"], (2.0, "s"))
        self.assertEqual(e2e["warm_pass_s"], (4.0, "s"))
        self.assertEqual(samples["warm_calls"], 24)
        self.assertEqual(samples["tail_percentile"], 58)
        self.assertEqual(e2e["call_tail_s"], (1.0, "s"))
        with self.assertRaises(ValueError):
            metrics.end_to_end(fake_result(), [1.0], 1)

    def test_counts(self):
        r = fake_result()
        r["passes"][2]["calls"][0]["ok"] = False
        self.assertEqual(metrics.counts(r), (10, 1))

    def test_per_layer(self):
        r = fake_result()
        r["passes"][0]["wall_s"] = 2.5
        m = metrics.per_layer(r, cores=4, first_warm=1, input_bytes_total=500)
        v = {k: x[0] for k, x in m.items()}
        self.assertAlmostEqual(v["operators.build_s"], 0.6)
        self.assertAlmostEqual(v["operators.build_share"], 0.3)
        self.assertEqual(v["operators.build_jobs"], 2)
        self.assertEqual(v["operators.par_jobs_max"], 1)
        self.assertAlmostEqual(v["sink.s"], 1.2)
        self.assertEqual(v["sink.jobs"], 2)
        self.assertEqual(v["spark.tasks"], 4)
        self.assertAlmostEqual(v["spark.task_cpu_s"], 0.6)
        self.assertAlmostEqual(v["spark.sched_wait_s"], 2 * 0.02 + 2 * 0.1)
        self.assertAlmostEqual(v["spark.tiny_task_frac"], 0.5)
        self.assertAlmostEqual(v["spark.utilization"], 1.2 / (4.0 * 4))
        self.assertEqual(v["sources.input_bytes"], 200)
        self.assertEqual(v["indexstore.cold_bytes_written"], 1000)
        self.assertAlmostEqual(v["indexstore.bytes_per_input_byte"], 2.0)
        self.assertAlmostEqual(v["indexstore.cold_extra_s"], 0.5)
        self.assertEqual(v["indexstore.warm_bytes_written"], 0)
        # every sink task of every traced pass ends 0.2 s after its call
        self.assertEqual(v["driver.orphan_tasks"], 6)
        self.assertAlmostEqual(v["trace.overhead_frac"], 0.0)
        self.assertAlmostEqual(v["trace.call_gap_frac"], 0.1)
        self.assertAlmostEqual(v["trace.pass_gap_frac"], 0.0)

    def test_span_counts(self):
        c = metrics.span_counts(fake_result()["trace"])
        first_build = c["3"]
        self.assertEqual(first_build["jobs"], 1)
        self.assertEqual(first_build["tasks"], 1)
        self.assertAlmostEqual(first_build["task_cpu_s"], 0.1)


def repo_gate():
    """tools/oracle_check.py, the gate whose row hash the benchmark uses."""
    path = BENCH.parent / "tools" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Hash(unittest.TestCase):
    def setUp(self):
        self.table_hash = repo_gate().table_hash

    def test_hash_ignores_row_and_column_order(self):
        h = self.table_hash
        a = h(["x", "y"], [(1, "a"), (2, "b")])
        b = h(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, h(["x", "y"], [(1, "a"), (2, "c")]))

    def test_hash_canonicalizes_values(self):
        # an integral float hashes like the integer, -0.0 like 0
        h = self.table_hash
        self.assertEqual(h(["x"], [(1,), (0,)]), h(["x"], [(1.0,), (-0.0,)]))
        self.assertNotEqual(h(["x"], [(None,)]), h(["x"], [("",)]))
        self.assertEqual(h(["x"], [([1, 2.0],)]), h(["x"], [([1.0, 2],)]))


class Verdicts(unittest.TestCase):
    def rec(self, ok=True, err=None):
        return {"schema_match": ok, "rows_match": ok, "hash_match": ok, "err": err}

    def test_matches_and_mismatches(self):
        v = oracle.verdicts({"a": self.rec(), "b": self.rec(False, "hash mismatch"),
                             "c": self.rec(False, "no spark output")}, [])
        self.assertEqual(v, {"a": None, "b": "hash mismatch", "c": "no spark output"})

    def test_type_lint_fails_a_matching_key(self):
        v = oracle.verdicts({"a": self.rec(), "b": self.rec()},
                            ["OK   a (3 rows)",
                             "LINT FAIL b: non-portable output types [('x', 'HUGEINT')]"])
        self.assertIsNone(v["a"])
        self.assertIn("HUGEINT", v["b"])


class Workloads(unittest.TestCase):
    def test_plan_layout(self):
        w = WORKLOADS["rag_surface"]
        passes, first, traced = w.plan(3, 15, False)
        self.assertEqual(first, 1)
        self.assertEqual(len(passes), first + w.warm_passes(15, False))
        self.assertEqual(traced, [])
        passes, first, traced = w.plan(3, 15, True)
        self.assertEqual(len(passes), first + 4)
        self.assertEqual(traced, [0, first, first + 2])

    def test_seed_fixes_the_plan(self):
        for w in WORKLOADS.values():
            self.assertEqual(w.passes(7, 3), w.passes(7, 3))
            self.assertNotEqual(w.passes(7, 3), w.passes(8, 3))
            for p in w.passes(7, 3):
                # every key once per pass
                self.assertEqual(sorted(c["key"] for c in p), sorted(w.keys))


class Declaration(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics a run prints."""

    def test_metric_names_match(self):
        path = BENCH.parent / "BENCHMARK.json"
        if not path.is_file():
            self.skipTest("BENCHMARK.json not in this tree")
        decl = json.loads(path.read_text())
        r = fake_result()
        for p in r["passes"][2::2]:
            p["calls"] = p["calls"] * 6
        e2e, _ = metrics.end_to_end(r, [1.0], 1)
        layer = metrics.per_layer(r, 4, 1, 100)
        for key, printed in (("end_to_end", e2e), ("per_layer", layer)):
            self.assertEqual({m["name"]: m["unit"] for m in decl[key]},
                             {k: u for k, (_, u) in printed.items()})
        self.assertEqual({w["name"] for w in decl["workloads"]}, set(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
