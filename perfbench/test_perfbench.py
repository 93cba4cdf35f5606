"""Self-tests of the benchmark. Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
The last test builds the engine and runs one short workload, so it needs
the Spark distribution and the input fixture; it takes about a minute.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from workloads import FAMILY, WORKLOADS  # noqa: E402


def _sample(name, s, **kw):
    return dict({"pass": 1, "name": name, "kind": "gate", "family": "X",
                 "traced": False, "s": s, "rows": 3}, **kw)


def _result(samples, warm=(), checks=()):
    return {"warm": list(warm), "samples": samples, "checks": list(checks),
            "passes": [{"pass": 1, "s": 1.0, "traced": False,
                        "live_heap_mb": 100.0, "peak_heap_mb": 900.0,
                        "alloc_mb": 500.0}],
            "setup_end_ms": 3000, "jvm_start_ms": 1000}


class TailRule(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in (20, 21, 39, 40, 41, 99, 100, 101, 200, 1000, 2000, 20000):
            xs = list(range(1, n + 1))
            p, v, beyond = metrics.tail(xs)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(beyond, sum(1 for x in xs if x > v), n)
            # the next ladder rung up would leave fewer than ten beyond
            higher = [q for q in metrics.TAIL_LADDER if q > p]
            if higher:
                q = higher[0]
                rank = -(-q * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_ladder_choices(self):
        self.assertEqual(metrics.tail(range(40))[0], 75.0)
        self.assertEqual(metrics.tail(range(39))[0], 50.0)
        self.assertEqual(metrics.tail(range(100))[0], 90.0)
        self.assertEqual(metrics.tail(range(200))[0], 95.0)
        self.assertEqual(metrics.tail(range(1000))[0], 99.0)

    def test_too_few_samples_report_the_shortfall(self):
        p, v, beyond = metrics.tail([5.0, 1.0, 3.0])
        self.assertEqual((p, v), (50.0, 3.0))
        self.assertLess(beyond, 10)


class Failures(unittest.TestCase):
    def test_throwing_gate_fails_and_is_not_timed(self):
        samples = [_sample("q_ok", 0.5),
                   {"pass": 1, "name": "q_bad", "kind": "gate",
                    "family": "X", "traced": False,
                    "err": "java.lang.RuntimeException: boom"},
                   _sample("q_ok", 0.7, **{"pass": 2})]
        r = _result(samples)
        attempted, failed = metrics.failures(r, {})
        self.assertEqual(attempted, 3)
        self.assertEqual([n for n, _ in failed], ["q_bad"])
        m, _ = metrics.end_to_end(r, attempted, failed)
        # only the two successful samples are timed
        self.assertAlmostEqual(m["op_p50_s"], 0.6)
        self.assertAlmostEqual(m["ok_frac"], 2 / 3)

    def test_oracle_mismatch_and_row_count_fail_by_name(self):
        samples = [_sample("q_a", 0.1), _sample("q_b", 0.2, rows=4)]
        verdicts = {"q_a": "values[x]: 1 differ", ("rows", "q_b"): 3}
        _, failed = metrics.failures(_result(samples), verdicts)
        self.assertEqual(sorted(n for n, _ in failed), ["q_a", "q_b"])

    def test_failed_write_check_counts(self):
        r = _result([], checks=[{"name": "etl.upsert_partitioned",
                                 "err": "2 missing rows"}])
        attempted, failed = metrics.failures(r, {})
        self.assertEqual((attempted, len(failed)), (1, 1))


class Names(unittest.TestCase):
    def test_metric_names(self):
        names = [n for n, *_ in metrics.END_TO_END] + \
            [n for n, *_ in metrics.per_layer_spec()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(metrics.per_layer_spec()), 128)
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            # BENCHMARK.json's name rule
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_benchmark_json_matches(self):
        root = os.path.dirname(HERE)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["end_to_end"]],
                         [n for n, *_ in metrics.END_TO_END])
        self.assertEqual([m["name"] for m in b["per_layer"]],
                         [n for n, *_ in metrics.per_layer_spec()])
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(WORKLOADS))

    def test_every_gate_has_a_family(self):
        for w in WORKLOADS.values():
            for g in w["gates"]:
                self.assertIn(g, FAMILY)


class WritesStayInside(unittest.TestCase):
    """A short run writes nothing into the tree outside .perfbench/."""

    def test_short_run(self):
        root = os.path.dirname(HERE)

        def tree():
            out = {}
            for d, dirs, files in os.walk(root):
                rel = os.path.relpath(d, root)
                top = rel.split(os.sep)[0]
                if top in (".perfbench", ".git") or "__pycache__" in rel:
                    dirs[:] = []
                    continue
                for f in files:
                    p = os.path.join(d, f)
                    out[os.path.relpath(p, root)] = os.stat(p).st_mtime_ns
            return out

        before = tree()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "etl_daily", "--seed", "7", "--seconds", "1", "--trace", "0"],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed",
                                     "metrics"})
        self.assertEqual(tree(), before)


if __name__ == "__main__":
    unittest.main()
