"""Tests of profile_layers.py on a small synthetic recording.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""

import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import profile_layers as pl  # noqa: E402

T0 = "2026-01-01T00:00:00"
T0_MS = 1767225600000.0


def at(ms):
    """A JFR timestamp `ms` milliseconds after T0, nanosecond digits."""
    s, rest = divmod(ms, 1000)
    return f"2026-01-01T00:00:{s:02d}.{rest:03d}000123Z"


def frame(qualified):
    cls, method = qualified.rsplit(".", 1)
    return {"method": {"type": {"classLoader": {"name": "app"},
                                "name": cls.replace(".", "/"),
                                "package": {"name": "x"}},
                       "name": method, "descriptor": "()V"},
            "lineNumber": 1, "type": "JIT compiled"}


def sample(ms, frames, thread="Executor task launch worker-0"):
    return {"type": "jdk.ExecutionSample",
            "values": {"startTime": at(ms),
                       "sampledThread": {"javaName": thread},
                       "stackTrace": {"truncated": False,
                                      "frames": [frame(f) for f in frames]},
                       "state": "STATE_RUNNABLE"}}


def jfr_layout(evs):
    """`evs` printed the way `jfr print --json` lays a recording out."""
    bodies = ["\n".join("    " + line
                        for line in json.dumps(e, indent=2).splitlines()[1:-1])
              for e in evs]
    return ('{\n  "recording": {\n    "events": [{\n' +
            "\n    }, {\n".join(bodies) + "\n    }]\n  }\n}\n")


CATALYST = ["org.apache.spark.sql.catalyst.rules.RuleExecutor.execute",
            "org.apache.spark.sql.execution.QueryExecution.optimizedPlan"]
EXPLAIN = ["org.apache.spark.sql.catalyst.trees.TreeNode.argString",
           "org.apache.spark.sql.catalyst.trees.TreeNode.treeString",
           "org.apache.spark.sql.execution.QueryExecution.explainString"]
AGG = ["org.apache.spark.unsafe.map.BytesToBytesMap.lookup",
       "org.apache.spark.sql.catalyst.expressions.GeneratedClass$"
       "GeneratedIteratorForCodegenStage1.agg_doAggregateWithKeys_0",
       "org.apache.spark.executor.Executor$TaskRunner.run"]
SHUFFLE_SORT = [
    "org.apache.spark.util.collection.unsafe.sort.RadixSort.sortKeyPrefixArray",
    "org.apache.spark.shuffle.sort.ShuffleInMemorySorter.getSortedIterator",
    "org.apache.spark.scheduler.ShuffleMapTask.runTask"]
IDLE = ["java.lang.Thread.run"]


class LayerOf(unittest.TestCase):
    def test_innermost_matching_frame_decides(self):
        self.assertEqual(pl.layer_of(CATALYST), "Catalyst")
        self.assertEqual(pl.layer_of(EXPLAIN), "AQE/explain")
        self.assertEqual(pl.layer_of(AGG), "hash aggregation")
        self.assertEqual(pl.layer_of(AGG[1:]), "generated code")
        # the radix sort is a shared helper: its caller decides
        self.assertEqual(pl.layer_of(SHUFFLE_SORT), "shuffle write")
        self.assertEqual(pl.layer_of(IDLE), pl.OTHER)
        self.assertEqual(pl.layer_of([]), pl.OTHER)

    def test_timestamps_keep_sub_millisecond_digits(self):
        self.assertAlmostEqual(pl.epoch_ms(at(1500)), T0_MS + 1500.000123)
        self.assertEqual(pl.epoch_ms("2026-01-01T01:00:00+01:00"), T0_MS)


class Recording(unittest.TestCase):
    """Seven samples: two inside span a's first instance, one inside its
    second, two inside span b, and two outside every span."""

    def setUp(self):
        info = {"type": "jdk.JVMInformation",
                "values": {"startTime": at(10),
                           "jvmStartTime": T0 + ".000Z"}}
        self.evs = [info,
                    sample(500, IDLE),
                    sample(1100, CATALYST, thread="main"),
                    sample(1200, AGG),
                    sample(1600, IDLE),
                    sample(2100, SHUFFLE_SORT),
                    sample(3050, EXPLAIN, thread="main"),
                    sample(3900, AGG)]
        self.spans = [{"name": "a", "t0_ms": T0_MS + 1000, "t1_ms": T0_MS + 1500},
                      {"name": "a", "t0_ms": T0_MS + 2000, "t1_ms": T0_MS + 2500},
                      {"name": "b", "t0_ms": T0_MS + 3000, "t1_ms": T0_MS + 4000}]

    def run_main(self, text, result):
        with tempfile.TemporaryDirectory() as d:
            jfr, res = os.path.join(d, "r.json"), os.path.join(d, "last.json")
            with open(jfr, "w") as f:
                f.write(text)
            with open(res, "w") as f:
                json.dump(result, f)
            out = io.StringIO()
            with redirect_stdout(out):
                pl.main([jfr, res])
            return out.getvalue()

    def test_streamed_events_equal_the_whole_document(self):
        text = jfr_layout(self.evs)
        self.assertEqual(list(pl.events(io.StringIO(text))),
                         json.loads(text)["recording"]["events"])
        compact = json.dumps({"recording": {"events": self.evs}})
        self.assertEqual(list(pl.events(io.StringIO(compact))), self.evs)

    def test_traced_run_counts_samples_inside_each_span(self):
        sampled, start = pl.samples(io.StringIO(jfr_layout(self.evs)))
        self.assertEqual(start, T0_MS)
        wins = pl.windows({"setup_s": 0.0, "spans": self.spans}, sampled,
                          start)
        tabs = pl.tables(sampled, wins)
        self.assertEqual(tabs["a"]["Catalyst"], (1, 1))
        self.assertEqual(tabs["a"]["hash aggregation"], (1, 0))
        self.assertEqual(tabs["a"]["shuffle write"], (1, 0))
        self.assertEqual(tabs["a"][pl.OTHER], (0, 0))
        self.assertEqual(tabs["b"]["AQE/explain"], (1, 1))
        self.assertEqual(tabs["b"]["hash aggregation"], (1, 0))
        self.assertEqual(sum(n for n, _ in tabs["b"].values()), 2)

    def test_untraced_run_keeps_samples_after_setup(self):
        out = self.run_main(jfr_layout(self.evs),
                            {"setup_s": 1.5, "spans": []})
        self.assertIn("== timed steps: 1 window(s), 4 samples, 1 on main ==",
                      out)
        rows = {line[:24].strip(): line[24:].split()
                for line in out.splitlines()[2:]}
        self.assertEqual(rows["AQE/explain"], ["1", "25.0%", "1"])
        self.assertEqual(rows["other"], ["1", "25.0%", "0"])
        self.assertEqual(rows["Catalyst"], ["0", "0.0%", "0"])

    def test_untraced_run_without_jvm_information_starts_at_first_sample(self):
        out = self.run_main(jfr_layout(self.evs[1:]),
                            {"setup_s": 1.5, "spans": []})
        # setup ends 1.5 s after the first sample, at 2000 ms
        self.assertIn("== timed steps: 1 window(s), 3 samples, 1 on main ==",
                      out)


if __name__ == "__main__":
    unittest.main()
