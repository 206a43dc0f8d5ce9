import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import compare  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "items_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
]}


def artifact(wall=10.0, rate=100.0, jobs=4, shuffle=1000):
    return {
        "workload": "query_keys",
        "metrics": {"wall_s": {"value": wall, "unit": "s"},
                    "items_per_s": {"value": rate, "unit": "1/s"}},
        "artifact": {
            "keys": {
                "k1": {"jobs": jobs, "stages": 3, "shuffle_write_bytes": shuffle, "construct_jobs": 0},
                "k2": {"jobs": 2, "stages": 2, "shuffle_write_bytes": 10, "construct_jobs": 1},
            },
            "pack_of": {"k1": "agg", "k2": "agg"},
        },
    }


class CompareTest(unittest.TestCase):
    def test_identical_runs_flag_nothing(self):
        self.assertEqual(compare.compare(SPEC, artifact(), artifact()), [])

    def test_within_bound_is_not_flagged(self):
        self.assertEqual(compare.compare(SPEC, artifact(), artifact(wall=10.9, rate=91.0)), [])

    def test_worse_than_bound_is_flagged_in_the_right_direction(self):
        flags = compare.compare(SPEC, artifact(), artifact(wall=11.5, rate=85.0))
        self.assertEqual(len(flags), 2)
        self.assertTrue(flags[0].startswith("wall_s"))
        self.assertTrue(flags[1].startswith("items_per_s"))
        # faster and higher throughput is never flagged
        self.assertEqual(compare.compare(SPEC, artifact(), artifact(wall=5.0, rate=300.0)), [])

    def test_moved_plan_counters_are_flagged_per_key_and_pack(self):
        flags = compare.compare(SPEC, artifact(), artifact(jobs=5, shuffle=999))
        self.assertIn("key k1 jobs: 4 -> 5", flags)
        self.assertIn("key k1 shuffle_write_bytes: 1000 -> 999", flags)
        self.assertIn("pack agg jobs: 6 -> 7", flags)
        self.assertIn("pack agg shuffle_write_bytes: 1010 -> 1009", flags)

    def test_marine_stage_counters(self):
        a = {"workload": "marine_log", "metrics": {},
             "artifact": {"stages": {"align": {"rows": 10, "shuffle_bytes": 5, "s": 1.0}}}}
        b = copy.deepcopy(a)
        b["artifact"]["stages"]["align"]["s"] = 2.0
        self.assertEqual(compare.compare(SPEC, a, b), [])
        b["artifact"]["stages"]["align"]["shuffle_bytes"] = 6
        self.assertEqual(compare.compare(SPEC, a, b), ["marine.align shuffle_bytes: 5 -> 6"])


if __name__ == "__main__":
    unittest.main()
