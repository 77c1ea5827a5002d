"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The first group checks the metric arithmetic on hand-built spans. The
second runs every workload at sf 0.001 through `run.py`: each must print
every named metric with its unit, and an injected wrong result must be
counted as a failed operation.
"""
import json
import os
import random
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import plan  # noqa: E402


def op(kind, block, start, end, layer="commit", traced=True, ok=True, extra=None):
    return [layer, kind, block, traced, start, end, ok, extra or {}]


def job(start, end, stages=1, tasks=2, exchanges=0, out=0):
    # [id, start, end, stages, tasks, exchanges, task_ms, gc_ms,
    #  shuffle_write, input, output]
    return [0, start, end, stages, tasks, exchanges, 5, 1, 0, 0, out]


class Arithmetic(unittest.TestCase):

    def test_quantiles_interpolate_between_ranks(self):
        xs = [10, 20, 30, 40, 50, 60, 70, 80, 90, 100]
        self.assertEqual(metrics.quantile(xs, 0.5), 55)
        self.assertAlmostEqual(metrics.quantile(xs, 0.9), 91)
        self.assertEqual(metrics.quantile([7], 0.9), 7)
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.quantile([], 0.5), 0.0)

    def test_union_of_job_spans_is_clipped_to_the_op(self):
        # overlapping jobs count once; the part past the op's end not at all
        self.assertEqual(metrics.covered([(10, 30), (20, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(metrics.covered([], 0, 100), 0)
        self.assertEqual(metrics.covered([(0, 100), (20, 30)], 0, 100), 100)

    def test_self_time_is_span_minus_its_jobs(self):
        o = metrics.Op(op("append", 0, 0.0, 100.0))
        o.jobs = [job(10, 30), job(20, 50), job(90, 120)]
        self.assertEqual(o.self_ms, 50)

    def test_jobs_go_to_the_traced_op_that_holds_their_start(self):
        a = metrics.Op(op("append", 0, 100.4, 200.0))
        b = metrics.Op(op("fold", 0, 200.5, 300.0))
        c = metrics.Op(op("merge", 1, 300.5, 400.0, traced=False))
        # Spark stamps whole milliseconds: 100 belongs to the op that
        # started at 100.4; 250 after a's end goes to b; 350 to nobody
        metrics.attribute([a, b, c], [job(100, 150), job(250, 260), job(350, 360)],
                          [[120, 1, 2, 3]])
        self.assertEqual([len(a.jobs), len(b.jobs), len(c.jobs)], [1, 1, 0])
        self.assertEqual(len(a.plans), 1)

    def doc(self):
        return {
            "setup_ms": [9000.0, 1000.0, 1200.0], "session_ms": [8000.0, 200.0, 300.0],
            "ops": [
                op("append", 0, 0.0, 100.0, extra={"versions": 1}),
                op("replay_fold", 0, 100.0, 200.0, extra={"versions": 0}),
                op("pruned", 0, 200.0, 300.0, layer="read",
                   extra={"files_scanned": 2, "files_committed": 5}),
                op("append", 1, 1000.0, 1100.0, traced=False, extra={"versions": 1}),
                op("append", 2, 2000.0, 2200.0, ok=False, extra={"versions": 1}),
            ],
            "jobs": [job(10, 30, out=700), job(20, 50, exchanges=1, out=100),
                     job(150, 170), job(2000, 2100, out=900)],
            "plans": [[5, 1, 2, 3], [2050, 4, 5, 6]],
            "batches": [[0, 40, 30, 6, 2], [0, 60, 50, 8, 4]],
            "results": {"heap_live_mb": 80.0, "warmup_ms": 700.0,
                        "files_live": 3, "files_total": 7},
            "problems": [],
        }

    def test_end_to_end_from_a_hand_built_run(self):
        e = metrics.end_to_end(self.doc(), 1.5)
        self.assertEqual(e["setup_s"], 1.2)
        # blocks hold 300, 100 and 200 ms of operations
        self.assertEqual(e["run_s"], 0.2)
        self.assertEqual(e["op_p50_ms"], 100)
        self.assertEqual(e["ok_ratio"], 0.8)
        self.assertEqual(e["space_amp"], 1.5)
        self.assertEqual(set(e), set(metrics.END_TO_END))

    def test_run_time_is_the_mean_block(self):
        d = self.doc()
        d["ops"] = [op("q_a", 0, 0, 100), op("q_a", 1, 200, 300),
                    op("q_a", 2, 400, 1000)]
        self.assertAlmostEqual(metrics.end_to_end(d, 1.0)["run_s"], 0.8 / 3)

    def test_per_layer_from_a_hand_built_run(self):
        p = metrics.per_layer(self.doc())
        self.assertEqual(set(p), set(metrics.PER_LAYER))
        # block 0: three jobs; block 2: one job -> median block 2
        self.assertEqual(p["exec.jobs"], 2)
        self.assertEqual(p["exec.exchanges"], 0.5)
        # block 0 self time: append 100-40, fold 100-20, pruned 100 -> 240;
        # block 2: 200-100 -> 100
        self.assertEqual(p["exec.driver_gap_ms"], 170)
        self.assertEqual(p["commit.append.ms"], 100)
        self.assertEqual(p["commit.append.jobs"], 1.5)
        self.assertEqual(p["commit.append.bytes_written"], 850)
        self.assertEqual(p["commit.replay_noop_ratio"], 1.0)
        self.assertEqual(p["commit.versions_published"], 1)
        self.assertEqual(p["read.files_scanned"], 2)
        self.assertEqual(p["catalyst.planning_ms"], 4.5)
        self.assertEqual(p["streaming.batch_ms"], 50)
        self.assertEqual(p["session.start_ms"], 300)
        # traced blocks 0 and 2 (300 and 200 ms) against block 1 (100 ms)
        self.assertAlmostEqual(p["trace.overhead_s"], 0.15)


class Plans(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        shape = {"slice_rows": 50, "rounds": 12, "warm_rounds": 2,
                 "rounds_per_block": 2, "blocks": 3}
        a = plan.lines("lake", 7, shape)
        self.assertEqual(a, plan.lines("lake", 7, shape))
        self.assertNotEqual(a, plan.lines("lake", 8, shape))

    def test_churn_touches_earlier_slices_once(self):
        seen = set()
        for line in plan.churn_lines(random.Random(1), 50, 12):
            _, i, *kv = line.split()
            keys = [int(x.split(":")[0]) for x in kv]
            self.assertTrue(all(k < int(i) * 50 for k in keys))
            self.assertFalse(seen & set(keys))
            seen.update(keys)

    def test_each_pass_runs_every_query_once(self):
        digests = {"q_b": "1:b:2", "q_a": "3:a:4", "q_c": "5:c:6"}
        out = plan.lines("etl_queries", 3, {"passes": 4}, digests)
        self.assertEqual(out[:3], ["expect q_a 3:a:4", "expect q_b 1:b:2",
                                   "expect q_c 5:c:6"])
        for line in out[3:]:
            self.assertEqual(sorted(line.split()[1:]), sorted(digests))


def bench(workload, trace=0, inject=""):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.001", "--inject", inject],
        capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(r.stderr[-3000:])
    return json.loads(r.stdout.strip().splitlines()[-1])


class Workloads(unittest.TestCase):
    """Runs the JVM: about half a minute per case."""

    WORKLOADS = ["etl_queries", "lake"]
    INJECT = {"etl_queries": "q1_agg", "lake": "replay_cdc"}

    def check(self, out, names):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(out["metrics"]), set(names))
        for k, v in out["metrics"].items():
            self.assertEqual(v["unit"], names[k], k)
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_prints_every_metric(self):
        for w in self.WORKLOADS:
            with self.subTest(workload=w):
                out = bench(w)
                self.check(out, metrics.END_TO_END)
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertEqual(out["metrics"]["ok_ratio"]["value"], 1.0)
                self.check(bench(w, trace=1), metrics.PER_LAYER)

    def test_an_injected_wrong_result_is_a_failure(self):
        for w in self.WORKLOADS:
            with self.subTest(workload=w):
                out = bench(w, inject=self.INJECT[w])
                self.assertFalse(out["correct"])
                self.assertEqual(out["failed"], 1)
                self.assertAlmostEqual(out["metrics"]["ok_ratio"]["value"],
                                       1 - 1 / out["attempted"])


if __name__ == "__main__":
    unittest.main()
