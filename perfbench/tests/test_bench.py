"""Tests of the benchmark's own logic. Run from the repository root:

  python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import gen_cricket  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def _files(d):
    return {p.relative_to(d): p.read_bytes() for p in sorted(Path(d).rglob("*")) if p.is_file()}


class TailRule(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        for n in (11, 18, 27, 40, 100, 1000):
            p = run.tail_pct(n)
            values = list(range(n))
            self.assertGreaterEqual(sum(v > run.percentile(values, p) for v in values), 10, n)
            # one percentile higher would leave fewer than ten
            if p < 99:
                self.assertLess(sum(v > run.percentile(values, p + 1) for v in values), 10, n)

    def test_known_values(self):
        self.assertEqual(run.tail_pct(100), 90)
        self.assertEqual(run.tail_pct(27), 62)
        with self.assertRaises(ValueError):
            run.tail_pct(10)

    def test_fixed_percentile_matches_the_interactive_sample_count(self):
        bench = json.loads((Path(run.HERE).parent / "BENCHMARK.json").read_text())
        cmd = bench["command"]
        fixed = int(cmd[cmd.index("--tail-pct") + 1])
        samples = len(run.plan("interactive", 0, bench["run_seconds"])) * len(run.INTERACTIVE)
        self.assertEqual(fixed, run.tail_pct(samples))

    def test_nearest_rank(self):
        self.assertEqual(run.percentile([5, 1, 3], 50), 3)
        self.assertEqual(run.percentile([1, 2, 3, 4], 100), 4)
        self.assertEqual(run.percentile([1, 2, 3, 4], 1), 1)


class HostStamps(unittest.TestCase):
    def test_slow_when_either_stamp_is_above_the_limit(self):
        def res(pre, post):
            return {"sentinel_pre": {"st_ms": pre}, "sentinel_post": {"st_ms": post}}
        self.assertFalse(run.host_slow(res(run.SLOW_ST_MS, run.SLOW_ST_MS - 1)))
        self.assertTrue(run.host_slow(res(run.SLOW_ST_MS + 1, 1000)))
        self.assertTrue(run.host_slow(res(1000, run.SLOW_ST_MS + 1)))


class OpOrder(unittest.TestCase):
    def test_same_seed_same_order(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.plan(w, 7, 15), run.plan(w, 7, 15))

    def test_seed_changes_order_not_content(self):
        a, b = run.plan("interactive", 1, 15), run.plan("interactive", 2, 15)
        self.assertNotEqual(a, b)
        for p in a + b:
            self.assertEqual(sorted(p), sorted(run.INTERACTIVE))
        self.assertEqual(sorted(run.plan("ingest", 3, 15)[0]), sorted(run.DRAINS))

    def test_passes_follow_seconds(self):
        self.assertEqual(len(run.plan("interactive", 1, 15)), 3)
        self.assertEqual(len(run.plan("interactive", 1, 1)), 1)
        self.assertEqual(len(run.plan("ingest", 1, 60)), 1)


class Generators(unittest.TestCase):
    def test_tables_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_tables.write(a, 5, 0.001)
            gen_tables.write(b, 5, 0.001)
            self.assertEqual(_files(a), _files(b))
            self.assertEqual(len(_files(a)), 10)

    def test_cricket_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen_cricket.generate(a, 3, 40, 2)
            gen_cricket.generate(b, 3, 40, 2)
            ec = gen_cricket.generate(c, 4, 40, 2)
            self.assertEqual(_files(a), _files(b))
            self.assertNotEqual(_files(a), _files(c))
            ea = json.loads((Path(a) / "expected.json").read_text())
            # the load's size does not depend on the seed
            self.assertEqual(ea["load"]["delivery_rows"], ec["load"]["delivery_rows"])

    def test_cricket_expected_counts_match_files(self):
        with tempfile.TemporaryDirectory() as d:
            exp = gen_cricket.generate(d, 11, 60, 2)
            state, rows, runs, versions = {}, 0, 0, Counter()
            for f in sorted((Path(d) / "corpus").iterdir()):
                doc = json.loads(f.read_text())
                info = doc["info"]
                versions[doc["meta"]["data_version"]] += 1
                state[info.get("match_id") or info["registry"]["match"]] = info["match_type"]
                for inn in doc["innings"]:
                    for ov in inn["overs"]:
                        for ball in ov["deliveries"]:
                            rows += 1
                            r = ball["runs"]
                            runs += r if isinstance(r, int) else r["total"]
            self.assertEqual(exp["load"]["delivery_rows"], rows)
            self.assertEqual(exp["load"]["runs_total"], runs)
            self.assertEqual(exp["load"]["distinct_matches"], len(state))
            self.assertLess(len(state), 60)  # some _ids are re-released
            self.assertEqual(set(versions), {"1.0.0", "1.1.0"})
            self.assertEqual(exp["load"]["partitions"], dict(Counter(state.values())))
            moved = False
            for delta in exp["deltas"]:
                for f in sorted((Path(d) / delta["dir"]).iterdir()):
                    info = json.loads(f.read_text())["info"]
                    mid = info.get("match_id") or info["registry"]["match"]
                    moved |= mid in state and state[mid] != info["match_type"]
                    state[mid] = info["match_type"]
                self.assertEqual(delta["partitions"], dict(Counter(state.values())))
            self.assertTrue(moved)


class Checks(unittest.TestCase):
    def test_wrong_fingerprint_is_a_failed_op(self):
        expected = {"queries": {"q1": {"rows": 2, "hash": "ab"}}}
        res = {"ops": [
            {"kind": "query", "phase": "timed", "name": "q1", "rows": 2, "hash": "ab"},
            {"kind": "query", "phase": "timed", "name": "q1", "rows": 2, "hash": "ac"},
            {"kind": "query", "phase": "timed", "name": "q1", "error": "boom"}]}
        bad = run.check(res, expected, None)
        self.assertEqual(len(bad), 2)
        self.assertEqual([o["ok"] for o in res["ops"]], [True, False, False])

    def test_partition_counts_are_checked(self):
        ingest = {"load": {"partitions": {"T20": 3}},
                  "deltas": [{"dir": "delta_00", "partitions": {"T20": 4}}]}
        res = {"ops": [
            {"kind": "partition_load", "phase": "timed", "name": "u", "partitions": {"T20": 3}},
            {"kind": "upsert", "phase": "timed", "name": "delta_00", "partitions": {"T20": 3}}]}
        self.assertEqual(len(run.check(res, {"queries": {}}, ingest)), 1)


if __name__ == "__main__":
    unittest.main()
