"""Tests of the benchmark itself (run from the repository root):

    python3 -m unittest graftbench/test_bench.py

`test_clean_exit` runs one short stream workload end to end (about 40 s,
plus a build if the sources changed).
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import time
import unittest
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench", "test")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def processes_with(token):
    """Pids of live processes whose environment carries `token`."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if token.encode() in fh.read():
                    found.append(int(pid))
        except OSError:
            pass
    return found


class BenchTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(WORK, ignore_errors=True)
        os.makedirs(WORK)

    def tearDown(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def test_benchmark_json_lists_what_run_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_inputs_are_a_function_of_the_seed(self):
        dirs = [os.path.join(WORK, d) for d in ("a", "b", "c")]
        for d, seed in zip(dirs, (7, 7, 8)):
            gen.curation(d, seed, 100, 50, 0.4, 30, 5)
        names = sorted(os.listdir(dirs[0]))
        same = filecmp.cmpfiles(dirs[0], dirs[1], names, shallow=False)[0]
        self.assertEqual(same, names)
        differ = filecmp.cmpfiles(dirs[0], dirs[2], names, shallow=False)[1]
        self.assertEqual(differ, names)

    def test_inputs_take_the_claimed_paths(self):
        # The curation inputs switch on every twin collapse and overflow
        # exactly one of d4's posting lists, whatever the seed.
        for seed in (1, 2):
            _, paths = gen.curation(os.path.join(WORK, str(seed)), seed, run.DOCS,
                                    run.VECS, run.TWIN_SHARE, run.BOILER_DOCS,
                                    run.BOILER_TEXTS)
            self.assertTrue(paths["d4_twin_collapse"])
            self.assertTrue(paths["d13_twin_collapse"])
            self.assertTrue(paths["s7_twin_collapse"])
            self.assertEqual(paths["d4_capped_postings"], 1)

    def test_refuses_outside_a_checkout(self):
        # Only BENCHMARK.json and the benchmark's own files: no library to
        # build, so it must fail quickly and print no result.
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), WORK)
        shutil.copytree(HERE, os.path.join(WORK, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "graftbench/run.py", "--workload", "curation",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=WORK, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)
        self.assertLess(time.time() - t0, 180)

    def test_clean_exit(self):
        token = f"GRAFTBENCH_TEST_{uuid.uuid4().hex}"
        env = dict(os.environ, GRAFTBENCH_TEST_TOKEN=token)
        p = subprocess.run(
            [sys.executable, "graftbench/run.py", "--workload", "stream",
             "--seed", "3", "--seconds", "2", "--trace", "0"],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), {n for n, _ in run.END_TO_END})
        self.assertEqual(processes_with(token), [])


if __name__ == "__main__":
    unittest.main()
