#!/usr/bin/env python3
"""Self-tests of the benchmark's own plumbing:

    python3 perfbench/selftest.py

- the result line is the last line of stdout and parses. Earlier bench
  output could not be read because sbt printed `[success]` after the
  metrics line; here sbt only ever builds (its output is captured, never
  forwarded) and the JVM writes its samples to a file;
- the same seed gives byte-identical fixtures and request lists.
"""
import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixture  # noqa: E402
import run  # noqa: E402
import stac  # noqa: E402

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))

SBT_STDOUT = """[info] welcome to sbt 1.10.0
[info] loading settings for project perfbench from build.sbt ...
[info] compiling 6 Scala sources to /x/perfbench/target/scala-2.13/classes ...
[success] Total time: 41 s, completed Oct 17, 2026, 8:54:34 AM
{cp}
[success] Total time: 1 s, completed Oct 17, 2026, 8:54:35 AM
"""


def fake_report(trace):
    m = {"setup_s": (4.2, "s", 3), "open_read_p50_ms": (700.5, "ms", 12),
         "capacity_rps": (2.9, "1/s", 10), "fail_share": (0.0, "1", 20)}
    layers = {"layers": {x["name"]: 1.5 for x in BENCH["per_layer"]},
              "breakdown": {"search_get/StacHttp.http": {"calls": 3, "self_ms": 9.0}}}
    return (m, True, 20, 0, [], layers), "abc"


class ResultLine(unittest.TestCase):
    def run_main(self, trace):
        out = io.StringIO()
        argv = ["run.py", "--workload", "stac", "--seed", "1", "--seconds", "10",
                "--trace", str(trace)]
        with mock.patch.object(sys, "argv", argv), \
                mock.patch.object(run, "build", return_value=[]), \
                mock.patch.object(run, "run", side_effect=lambda a, cp, w: fake_report(trace)), \
                contextlib.redirect_stdout(out):
            run.main()
        return out.getvalue()

    def check_last_line(self, text, section):
        last = text.rstrip("\n").split("\n")[-1]
        obj = json.loads(last)
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(obj["metrics"]), {x["name"] for x in BENCH[section]})
        for v in obj["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertIsInstance(v["value"], float)

    def test_untraced_last_line_has_end_to_end_metrics(self):
        self.check_last_line(self.run_main(0), "end_to_end")

    def test_traced_last_line_has_per_layer_metrics(self):
        self.check_last_line(self.run_main(1), "per_layer")

    def test_sbt_epilogue_never_reaches_stdout(self):
        with tempfile.TemporaryDirectory() as d:
            jar = os.path.join(d, "a.jar")
            open(jar, "w").close()
            done = subprocess.CompletedProcess([], 0, SBT_STDOUT.format(cp=jar), "")
            out = io.StringIO()
            with mock.patch.object(run, "BUILD", d), \
                    mock.patch.object(run.shutil, "which", return_value="/bin/sbt"), \
                    mock.patch.object(run.subprocess, "run", return_value=done), \
                    contextlib.redirect_stdout(out):
                cp = run.build()
            self.assertEqual(cp, [jar])
            self.assertEqual(out.getvalue(), "")


class Generator(unittest.TestCase):
    def requests(self, d, seed, phase_s=6.0):
        fixture.generate(d, seed, 0.001, ("events",))
        con = stac.connect(os.path.join(d, "events.parquet"))
        reqs = stac.generate(con, seed, run.CONFIG["stac"], phase_s, 20)
        return json.dumps(reqs, sort_keys=True).encode()

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra, rb = self.requests(a, 7), self.requests(b, 7)
            self.assertEqual(ra, rb)
            events = [open(os.path.join(d, "events.parquet"), "rb").read() for d in (a, b)]
            self.assertEqual(events[0], events[1])
            self.assertNotEqual(ra, self.requests(b, 8))

    def test_writes_are_one_request_in_five(self):
        with tempfile.TemporaryDirectory() as d:
            reqs = json.loads(self.requests(d, 3, phase_s=30 / run.CONFIG["stac"]["rate_rps"]))
            self.assertFalse(any(op["route"].startswith("write")
                                 for op in reqs["open"] + reqs["closed"]))
            ops = reqs["open_rw"]
            writes = sum(op["route"].startswith("write") for op in ops)
            self.assertEqual(writes * 5, len(ops))
            ids = {op["i"] for op in reqs["open"] + ops}
            self.assertEqual(len(ids), len(reqs["open"]) + len(ops))
            for op in ops:
                self.assertLess(op["dep"], op["i"])


if __name__ == "__main__":
    unittest.main()
