"""Self-check of the benchmark at sf0.001.

    python3 -m unittest discover -s perfbench/tests -v

Runs each workload at sf0.001, untraced and traced (`run.py --tiny`,
the workload's minimum number of operations), and asserts that the run
exits 0 with its output checks passing, that the last line carries
every BENCHMARK.json metric with the unit BENCHMARK.json declares, and
that every workload-named metric is printed with its unit.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

# metrics each workload prints by name, beyond the BENCHMARK.json set
NAMED = {
    "recsys_ref": (["recsys_s", "recsys_rmse", "recsys_map_at_100", "failed_ratio"],
                   ["split.wall_s", "popularity.wall_s", "als_fit.wall_s",
                    "als_fit.task_s", "als_fit.shuffle_mb", "rmse.wall_s",
                    "recommend.wall_s", "recommend.task_s", "eval.wall_s",
                    "eval.jobs", "eval.input_mb", "pass.self_s"]),
    "analytics_mix": (["mix_s", "mix_s.q_khop", "intake_batch_p50_s",
                       "intake_docs_per_s", "failed_ratio"],
                      ["mix.q_khop.wall_s", "mix.q_khop.jobs", "mix.jobs",
                       "mix.planning_s", "mix.driver_gap_s", "mix.task_s",
                       "mix.shuffle_mb", "mix.input_mb", "mix.gc_s",
                       "intake.fit_s", "intake.wire_s", "intake.add_batch_s",
                       "intake.query_planning_s", "intake.commit_s",
                       "intake.jobs_per_batch", "intake.task_s_per_batch",
                       "intake.output_mb_per_batch", "intake.state_rows",
                       "intake.index_rows"]),
}
ALWAYS = ["peak_rss_mb", "setup_s"]
TRACED = ["trace_overhead", "planning_s", "driver_gap_s", "gc_s"]


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    return r.returncode, r.stdout, r.stderr


class SelfCheck(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload, trace):
        code, out, err = run(workload, trace)
        self.assertEqual(code, 0, f"{workload} trace={trace} exited {code}:\n{err[-3000:]}")
        last = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(last["metrics"]), sorted(m["name"] for m in wanted))
        for m in wanted:
            self.assertEqual(last["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        e2e, layers = NAMED[workload]
        for name in (layers + TRACED if trace else e2e + ALWAYS):
            self.assertRegex(out, re.compile(rf"^\S+\s+{re.escape(name)}\s+\S+ \S+$", re.M),
                             f"{name} not printed with a unit")

    def test_recsys_ref(self):
        self.check("recsys_ref", 0)
        self.check("recsys_ref", 1)

    def test_analytics_mix(self):
        self.check("analytics_mix", 0)
        self.check("analytics_mix", 1)


if __name__ == "__main__":
    unittest.main()
