"""Failure drill for the benchmark: a sample that throws while its query is
being built, and one that fails partway through its write, must each be
counted as failed under its query's name, never timed, and make the run
exit non-zero.

    python3 -m unittest perfbench/test_drill.py      (from the repo root)

Each case is one query_mix run (about a minute).
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
DRAW = json.load(open(os.path.join(ROOT, "perfbench", "pools.json")))["query_mix"]["draw"]
QUERIES = [d.split("@")[0] for d in DRAW]


def run(inject):
    r = subprocess.run([sys.executable, RUN, "--workload", "query_mix", "--seed", "1",
                        "--seconds", "1", "--trace", "0", "--inject", inject],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    result = json.loads(r.stdout.strip().splitlines()[-1])
    return r.returncode, result, r.stderr


class Drill(unittest.TestCase):
    def check(self, kind, query):
        code, result, err = run(f"{kind}:{query}")
        self.assertNotEqual(code, 0, "a failed sample must fail the run")
        # one pass at least: the query failed once per pass, the rest timed
        self.assertGreaterEqual(result["failed"], 1)
        self.assertEqual(result["attempted"] % len(QUERIES), 0)
        passes = result["attempted"] // len(QUERIES)
        self.assertEqual(result["failed"], passes)
        self.assertIn(f"FAILED {query}:", err)
        self.assertIn(f"injected failure while {'building' if kind == 'build' else 'writing'}", err)
        for m in result["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_fails_while_building(self):
        self.check("build", QUERIES[0])

    def test_fails_partway_through_write(self):
        self.check("write", QUERIES[1])


if __name__ == "__main__":
    unittest.main()
