"""Smoke run of all three workloads on small inputs (scale 0.001), traced,
checking that every named metric is reported and that a wrong result is
counted as a failed op. Takes about ten minutes; run from the repository root:

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import re
import subprocess
import sys
import unittest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

END_TO_END = ["setup_s", "cold_setup_s", "ops_per_s", "op_p50_s", "op_p90_s",
              "op_p50_geomean_s", "op_p50_geomean_raw_s", "setup_raw_s",
              "host_probe_ms", "failed_op_ratio", "retained_heap_mb", "query_p50_s"]
GOVERNED = ["commit_p50_s", "commit_p90_s", "mv_refresh_p50_s",
            "stored_bytes_per_live_byte"]
PER_LAYER = """
plans.analyze_s plans.optimize_s plans.physical_s plans.share
plans.mv_rewrite_attempts plans.mv_rewrite_hits plans.mv_rewrite_hit_ratio
exec.jobs exec.stages exec.tasks exec.job_s exec.driver_gap_s exec.task_run_s
exec.task_cpu_s exec.task_wait_s exec.gc_s exec.spill_bytes exec.task_failures
exec.stage_retries exec.straggler_ratio
shuffle.write_bytes shuffle.write_records shuffle.write_s shuffle.read_bytes
shuffle.remote_read_bytes shuffle.fetch_wait_s shuffle.files shuffle.map_recomputes
shuffle.share
sources.meta.resolve_s sources.meta.commit_driver_s sources.meta.fs_read_bytes
sources.meta.fs_write_bytes sources.meta.log_bytes sources.meta.versions
sources.write.job_s sources.write.files sources.write.rows sources.write.bytes
sources.scan.files_listed sources.scan.files_skipped sources.scan.files_planned
sources.scan.skip_ratio sources.scan.bytes_read
sources.mv.refresh_jobs sources.mv.refresh_task_s sources.mv.refresh_driver_s
sources.mv.refresh_plan_s
api.min_hash_candidates_s api.exact_jaccard_pairs_s api.dedup_clusters_s
api.lsh_neighbors_s api.topk_neighbors_s api.candidate_pairs api.confirmed_pairs
api.candidate_precision api.cc_jobs
jvm.gc_s jvm.heap_peak_mb
trace.overhead_op_p50 trace.overhead_ops_per_s
""".split()


def bench(workload, *extra):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "10", "--scale", "0.001", *extra],
                       cwd=REPO, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]), p.stderr


class SmokeTest(unittest.TestCase):
    def check_workload(self, workload, expected):
        rc, lines, result, err = bench(workload, "--trace", "1")
        self.assertEqual(rc, 0, err[-3000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        printed = {m.group(1) for m in (re.match(rf"{workload} (\S+) = ", ln)
                                        for ln in lines) if m}
        for name in expected:
            self.assertIn(name, printed, f"{workload} did not print {name}")
        for name in PER_LAYER:
            self.assertIn(name, result["metrics"], f"{workload} lacks {name}")
        self.assertTrue(any("spans written to" in ln for ln in lines))

    def test_olap_join_agg(self):
        self.check_workload("olap_join_agg", END_TO_END)

    def test_governed_cdc(self):
        self.check_workload("governed_cdc", END_TO_END + GOVERNED)

    def test_llm_corpus(self):
        self.check_workload("llm_corpus", END_TO_END)

    def test_wrong_result_counts_as_failed(self):
        for workload in ("llm_corpus", "governed_cdc"):
            rc, _, result, _ = bench(workload, "--inject-wrong")
            self.assertNotEqual(rc, 0)
            self.assertFalse(result["correct"])
            self.assertGreaterEqual(result["failed"], 1)


if __name__ == "__main__":
    unittest.main()
