"""The benchmark's own tests: its output checks really run.

Each test runs one workload with `--corrupt`, which hands the named checks
a wrong expected value, and asserts that the run reports failures for
exactly those checks and `correct: false`. A clean run of the same
workload is what the benchmark itself does on every invocation.

    python3 perfbench/test_checks.py          # about three minutes at local[4]
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, trace: int, corrupt: list) -> tuple:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--corrupt", ",".join(corrupt)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


class CorruptedExpectationsFail(unittest.TestCase):

    def check(self, workload: str, trace: int, names: list) -> None:
        result, err = run(workload, trace, names)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertLessEqual(result["failed"], result["attempted"])
        for n in names:
            self.assertIn(f"check {n}:", err, f"corrupting {n} did not fail it")

    def test_flagship_checks(self):
        self.check("sentiment_flagship", 0,
                   ["hand_nb_confusion", "ml_confusion_total", "ml_accuracy_floor"])

    def test_curation_checks(self):
        self.check("curation", 1, [
            "exact_dup_groups", "dedup_clusters", "sink_kept_ids", "quality_rows",
            "quality_repeatable",
            "stream_equals_batch.st13_stream_neardup_capped",
            "stream_equals_batch.st17_stream_decontamination"])


if __name__ == "__main__":
    unittest.main()
