import os
import re
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen_nmea  # noqa: E402

WELL_FORMED = re.compile(r"^\$[A-Z0-9]{3,10},[^*]*\*[0-9A-Fa-f]{2}$")


def valid(line):
    """The validity rule of Nmea.parseAll: well formed and checksum matches."""
    if not WELL_FORMED.match(line):
        return False
    body, declared = line[1:].split("*")
    x = 0
    for b in body.encode():
        x ^= b
    return int(declared, 16) == x


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_log(self):
        self.assertEqual(gen_nmea.generate(5, 3000), gen_nmea.generate(5, 3000))

    def test_seeds_differ_in_content_not_size(self):
        a, ea = gen_nmea.generate(5, 3000)
        b, eb = gen_nmea.generate(6, 3000)
        self.assertNotEqual(a, b)
        self.assertEqual(ea["lines"], eb["lines"])
        self.assertEqual(ea["rejected"], eb["rejected"])

    def test_planted_counts_match_the_lines(self):
        text, exp = gen_nmea.generate(11, 20000)
        lines = text.splitlines()
        ok = [valid(x) for x in lines]
        self.assertEqual(exp["lines"], len(lines))
        self.assertEqual(exp["valid"], sum(ok))
        self.assertEqual(exp["rejected"], len(lines) - sum(ok))
        self.assertGreater(exp["rejected"], 0)
        rmc = [x for x, v in zip(lines, ok) if v and x.startswith("$GPRMC")]
        self.assertEqual(exp["ticks"], len(rmc))

    def test_multi_day_log_with_race_gaps(self):
        text, exp = gen_nmea.generate(3, 40000)
        dates = {x.split(",")[9] for x in text.splitlines() if x.startswith("$GPRMC,") and valid(x)}
        self.assertGreater(len(dates), 1)
        self.assertGreater(exp["races"], len(dates))

    def test_boat_varies_with_seed(self):
        speeds = set()
        for seed in range(4):
            text, _ = gen_nmea.generate(seed, 600)
            rmc = [x.split(",") for x in text.splitlines() if x.startswith("$GPRMC,")]
            speeds.add(round(sum(float(f[7]) for f in rmc) / len(rmc)))
        self.assertGreater(len(speeds), 1)


if __name__ == "__main__":
    unittest.main()
