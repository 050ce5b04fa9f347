"""Self-checks of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py

The catalog test builds the engine (once per source change) and asks the
harness for the query catalog; the other tests run on synthetic records.
"""
import contextlib
import io
import json
import time
import unittest
from unittest import mock

import run

BENCH = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def synthetic_records():
    """One setup-only JVM and one traced JVM whose passes 0-5 each run one
    query with one build job, one execute job and one micro-batch."""
    recs = [{"kind": "setup", "jvm": j, "launch_ms": 0.0, "session_start_ms": 500.0, "ready_ms": 6000.0}
            for j in (0, 1)]
    t, job, stage = 10_000.0, 0, 0
    for p in range(6):
        traced = p in run.TRACED_PASSES
        ex = f"pb-1-{p + 1}"
        recs.append({"kind": "exec", "exec": ex, "jvm": 1, "pass": p, "query": "q", "traced": traced,
                     "start_ms": t, "build_end_ms": t + 400, "plan_end_ms": t + 450,
                     "collect_end_ms": t + 1000, "rows": 3, "digest": "d", "error": "",
                     "catalyst_ms": {"analysis": 1, "optimization": 2, "planning": 3},
                     "codegen_build": [1, 5_000_000], "codegen_plan": [0, 0],
                     "codegen_collect": [2, 20_000_000]})
        if traced:
            for group, a, b in ((f"{ex}:build", t + 100, t + 300), (f"run-{p}", t + 320, t + 380),
                                (f"{ex}:execute", t + 500, t + 900)):
                recs.append({"kind": "job", "job": job, "group": group, "start_ms": a, "stages": [stage]})
                recs.append({"kind": "job", "job": job, "end_ms": b, "ok": True})
                recs.append({"kind": "stage", "stage": stage, "attempt": 0, "tasks": 4,
                             "submitted_ms": a + 5, "completed_ms": b - 5, "first_launch_ms": a + 15,
                             "failed_tasks": 0, "run_ms": 500, "cpu_ns": 400_000_000, "deser_ms": 10,
                             "gc_ms": 3, "shuffle_write_b": 2**20, "shuffle_read_b": 2**20,
                             "fetch_wait_ms": 1, "spill_b": 0, "input_b": 2**20, "output_b": 0})
                job, stage = job + 1, stage + 1
            recs.append({"kind": "stream_run", "run": f"run-{p}", "exec": ex})
            recs.append({"kind": "batch", "run": f"run-{p}", "batch": 0, "start_ms": t + 310,
                         "trigger_ms": 80, "add_batch_ms": 60, "planning_ms": 5, "wal_ms": 4,
                         "state_commit_ms": 7, "state_rows": 11})
        recs.append({"kind": "pass", "jvm": 1, "pass": p, "traced": traced, "start_ms": t,
                     "end_ms": t + 1000 + p})
        t += 2000
    recs.append({"kind": "end", "jvm": 1, "vmhwm_kb": 1024 * 1500, "end_ms": t})
    return recs


class SelfCheck(unittest.TestCase):

    def test_workloads_match_benchmark_json(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(run.WORKLOADS))

    def test_every_benchmark_metric_is_printed(self):
        recs = synthetic_records()
        all_pass = mock.patch.object(run, "check_results", lambda r: (len(r), []))
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            with all_pass, contextlib.redirect_stdout(io.StringIO()) as out:
                result = run.report("fixpoint", recs, trace, seed=0)
            for m in BENCH[key]:
                with self.subTest(metric=m["name"]):
                    self.assertIn(m["name"], result["metrics"])
                    self.assertIn(m["name"], out.getvalue())

    def test_layer_self_times_sum_to_wall(self):
        per_pass, trees = run.per_layer(synthetic_records())
        for key, m in per_pass.items():
            with self.subTest(pass_=key):
                total = sum(m[f"self.{k}_s"] for k in run.SELF_LAYERS)
                self.assertAlmostEqual(total, m["wall_s"], places=9)
                self.assertGreater(m["self.streaming_s"], 0)
                self.assertGreater(m["self.codegen_s"], 0)

    def test_tail_keeps_ten_samples_beyond(self):
        value, pct, n = run.tail([float(x) for x in range(1, 31)])
        self.assertEqual((value, n), (20.0, 30))
        self.assertAlmostEqual(pct, 200 / 3)

    def test_every_workload_query_is_in_the_catalog_with_a_digest(self):
        run.preflight()
        work = run.BUILD / "selfcheck"
        work.mkdir(parents=True, exist_ok=True)
        catalog = {r["name"] for r in run.jvm(run.build(), work, ["--list"], time.monotonic() + 600)}
        digests = json.loads(run.DIGESTS_FILE.read_text())
        for name, spec in run.WORKLOADS.items():
            for q in spec["queries"]:
                with self.subTest(workload=name, query=q):
                    self.assertIn(q, catalog, f"{q} is not in SparkEntry.queries")
                    self.assertIn(q, digests, f"{q} has no expected digest")


if __name__ == "__main__":
    unittest.main()
