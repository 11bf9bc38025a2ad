"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The smoke tests build graft and run every workload at a tiny scale, so
they take a few minutes; the others take seconds.
"""

import filecmp
import io
import json
import os
import shutil
import sys
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build   # noqa: E402
import gen     # noqa: E402
import report  # noqa: E402
import run     # noqa: E402

SCRATCH = os.path.join(build.BUILD, "tests")


class SpanArithmetic(unittest.TestCase):
    def span(self, name="etl.widen", **kw):
        rec = {"name": name, "t0_ms": 1000.0, "t1_ms": 2000.0,
               "jobs_ms": [[1100, 1300], [1200, 1400], [1600, 1700],
                           [1950, 2100]],
               "plan_ms": 50.0}
        rec.update(kw)
        return rec

    def test_union_clips_and_merges_overlaps(self):
        jobs = self.span()["jobs_ms"]
        # [1100,1400] + [1600,1700] + [1950,2000] clipped at the span end
        self.assertAlmostEqual(report.union_ms(jobs, 1000, 2000), 450)
        self.assertEqual(report.union_ms([], 0, 10), 0)

    def test_driver_time_is_wall_minus_jobs_minus_planning(self):
        f = report.span_figures(self.span())
        self.assertAlmostEqual(f["wall_s"], 1.0)
        self.assertAlmostEqual(f["driver_s"], 1.0 - 0.45 - 0.05)
        self.assertEqual(f["jobs"], 4)

    def test_driver_time_never_negative(self):
        f = report.span_figures(self.span(plan_ms=900.0))
        self.assertEqual(f["driver_s"], 0.0)

    def test_layer_metrics(self):
        spans = [self.span(run_ms=900, peak_mem_bytes=5),
                 self.span(run_ms=900, peak_mem_bytes=7, t1_ms=3000.0)]
        m = report.layer_metrics(spans, cores=2)
        self.assertAlmostEqual(m["etl.widen.wall_s"], 1.5)
        # a span never opened reports zero; every declared metric is there
        self.assertEqual(m["etl.ingest.cpu_s"], 0.0)
        self.assertEqual(len(m), sum(map(len, report.SPAN_METRICS.values())))
        busy = 0.45 + 0.55          # the second span runs to 3000 ms
        self.assertAlmostEqual(m["etl.widen.core_util"], 1.8 / (busy * 2))
        mix = report.layer_metrics(
            [dict(s, name="curation.mix") for s in spans], 2)
        self.assertEqual(mix["curation.mix.peak_mem_bytes"], 7)

    def test_tracing_overhead(self):
        steps = [{"seconds": s, "traced": t}
                 for s, t in ((1.0, False), (1.0, False), (1.1, True))]
        self.assertAlmostEqual(report.tracing_overhead_pct(steps), 10.0)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                dirs = [os.path.join(SCRATCH, f"det-{w}-{i}") for i in range(3)]
                for d in dirs:
                    shutil.rmtree(d, ignore_errors=True)
                gen.generate(w, 5, 0.02, dirs[0])
                gen.generate(w, 5, 0.02, dirs[1])
                gen.generate(w, 6, 0.02, dirs[2])
                self.assertTrue(same_tree(dirs[0], dirs[1]))
                self.assertFalse(same_tree(dirs[0], dirs[2]))
                for d in dirs:
                    shutil.rmtree(d)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


class Smoke(unittest.TestCase):
    """Each workload at a tiny scale passes its correctness checks and
    reports every metric the benchmark declares."""

    def run_bench(self, workload, trace):
        out = io.StringIO()
        with redirect_stdout(out):
            code = run.main(["--workload", workload, "--seed", "3",
                             "--seconds", "2", "--trace", str(trace),
                             "--scale", "0.05"])
        return code, json.loads(out.getvalue().splitlines()[-1])

    def test_workloads(self):
        with open(os.path.join(os.path.dirname(run.HERE),
                               "BENCHMARK.json")) as f:
            declared = json.load(f)
        for w in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    code, res = self.run_bench(w, trace)
                    self.assertEqual(code, 0)
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(set(res["metrics"]),
                                     {m["name"] for m in declared[key]})


if __name__ == "__main__":
    unittest.main()
