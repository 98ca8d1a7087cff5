"""The benchmark's own failure-path tests. The killed-run test starts a
real run (about a minute); the wrong-digest test re-reads a committed run
record.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import signal
import subprocess
import sys
import time
import unittest

import run

RUN = os.path.join(run.HERE, "run.py")


class KilledRun(unittest.TestCase):
    def test_killed_run_leaves_parseable_aborted_record(self):
        proc = subprocess.Popen(
            [sys.executable, RUN, "--workload", "etl_flows", "--seed", "7",
             "--seconds", "60", "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        run_id = f"etl_flows-s7-t0-{proc.pid}"
        record = os.path.join(run.WORK, "records", f"{run_id}.jsonl")
        deadline = time.time() + 600
        jvm = None
        try:
            # kill the engine process once a timed pass is under way
            while time.time() < deadline and proc.poll() is None:
                lines, _ = run.read_record(record) if os.path.exists(record) else ([], True)
                jvm = next((l["pid"] for l in lines if l["type"] == "jvm"), None)
                if jvm and any(l["type"] == "flow" for l in lines):
                    os.kill(jvm, signal.SIGKILL)
                    break
                time.sleep(0.2)
            out, _ = proc.communicate(timeout=120)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        self.assertIsNotNone(jvm, "no timed flow finished before the deadline")
        self.assertNotEqual(proc.returncode, 0)
        self.assertNotIn('"correct"', out)
        with open(record) as f:
            raw = f.read().splitlines()
        lines = [json.loads(l) for l in raw]  # every line parses
        self.assertEqual(lines[-1]["type"], "aborted")
        self.assertNotIn("end", [l["type"] for l in lines])
        self.assertGreaterEqual(sum(l["type"] == "flow" for l in lines), 1)
        self.assertFalse(os.path.exists(os.path.join(run.WORK, "runs", run_id)))


class WrongDigest(unittest.TestCase):
    def test_wrong_expected_digest_counts_as_failed(self):
        record = os.path.join(run.HERE, "results",
                              "etl_flows.trace0.record.jsonl")
        lines, aborted = run.read_record(record)
        self.assertFalse(aborted)
        flows, _, _ = run.WORKLOADS["etl_flows"]
        with open(run.EXPECTED) as f:
            expected = json.load(f)
        _, correct, attempted, failed, info = run.summarize(
            lines, flows, expected)
        self.assertTrue(correct)
        self.assertEqual(failed, 0)

        expected["q01_groupby_agg"]["digest"] = "0:0"
        _, correct, attempted, failed, info = run.summarize(
            lines, flows, expected)
        self.assertFalse(correct)
        self.assertEqual(info["failed_flows"], ["q01_groupby_agg"])
        self.assertGreater(failed, 0)
        self.assertGreater(info["failed_share"], 0)


if __name__ == "__main__":
    unittest.main()
