"""Tests of the benchmark's input generators and metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import run  # noqa: E402


def _files(d):
    return sorted(p.name for p in Path(d).iterdir())


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_fan(os.path.join(a, "fan"), 3000, 4, seed=7)
            gen.write_fan(os.path.join(b, "fan"), 3000, 4, seed=7)
            gen.write_tables(os.path.join(a, "t"), 0.001, seed=7)
            gen.write_tables(os.path.join(b, "t"), 0.001, seed=7)
            for sub in ("fan", "t"):
                names = _files(os.path.join(a, sub))
                self.assertEqual(names, _files(os.path.join(b, sub)))
                _, mismatch, errors = filecmp.cmpfiles(
                    os.path.join(a, sub), os.path.join(b, sub), names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            fa = gen.write_fan(a, 3000, 4, seed=1)
            fb = gen.write_fan(b, 3000, 4, seed=2)
            self.assertNotEqual(fa, fb)

    def test_fan_inputs_have_the_documented_shape(self):
        with tempfile.TemporaryDirectory() as d:
            facts = gen.write_fan(d, 20000, 8, seed=3)
            events = sorted(Path(d).glob("*_fan_engagement-000-of-001.json"))
            self.assertEqual(len(events), 8)
            lines = sum(len(p.read_text().splitlines()) for p in events)
            self.assertEqual(lines, facts["input_lines"])
            self.assertTrue(0 < facts["malformed_lines"] < 100)
            self.assertAlmostEqual(facts["other_rows"] / lines, 0.2, delta=0.02)
            self.assertTrue(0 < facts["fallback_rows"] < facts["output_rows"])
            self.assertEqual(
                facts["output_rows"] + facts["other_rows"] + facts["malformed_lines"], lines)
            csv = Path(d, "country_data.csv").read_bytes()
            self.assertTrue(csv.startswith("\ufeff".encode()))
            self.assertIn(b"Population ,", csv)
            self.assertIn(b'"Hindi, English"', csv)


class HandCountedFacts(unittest.TestCase):
    """300 rows whose facts are counted by hand:

    * DeviceType is ``Other`` when i % 5 == 4: 60 rows dropped, 240 out.
    * RaceID cycles over the three shapes; each keeps 100 - 20 = 80 rows.
    * Countries cycle Spain / UK / USA / UAE / Atlantis / " spain ". UK and
      USA miss (their canonical names are not in the side input), Atlantis
      misses, UAE hits through its alias: 3 of 6 classes miss, 40 output
      rows each, so 120 fallbacks.
    * seconds = i + 1: 45150 in total, minus 5 + 10 + ... + 300 = 9150 for
      the dropped rows, so 36000.
    """

    def rows(self):
        races = ["Cup 25", "league:04", "race_11"]
        countries = ["Spain", "UK", "USA", "UAE", "Atlantis", " spain "]
        return [(f"F{i:03d}", races[i % 3], "2025-06-03 20:00:39", countries[i % 6],
                 "Other" if i % 5 == 4 else "Mobile", i + 1, False, True)
                for i in range(300)]

    def test_facts(self):
        facts = gen.fan_facts(self.rows(), gen.COUNTRIES)
        self.assertEqual(facts["output_rows"], 240)
        self.assertEqual(facts["other_rows"], 60)
        self.assertEqual(facts["rows_per_race"], {"cup25": 80, "league04": 80, "race11": 80})
        self.assertEqual(facts["fallback_rows"], 120)
        self.assertEqual(facts["sum_seconds_watched"], 36000)

    def test_output_facts_read_back_the_same(self):
        keys = gen.lut_keys(gen.COUNTRIES)
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "out.jsonl")
            with open(path, "w") as fh:
                for _f, race, _t, country, dev, secs, _p, _m in self.rows():
                    if dev == "Other":
                        continue
                    probe = country.strip().lower()
                    hit = gen.ALIAS.get(probe, probe) in keys
                    loc = {"country": country.strip(), "capital": "X" if hit else "",
                           "continent": "", "official language": "",
                           "currency": "EUR" if hit else ""}
                    fh.write(json.dumps({"RaceID": gen.standardize_race_id(race),
                                         "EngagementMetric_secondswatched": secs,
                                         "LocationData": loc}) + "\n")
            got = gen.output_facts(path)
        want = gen.fan_facts(self.rows(), gen.COUNTRIES)
        for k, v in got.items():
            self.assertEqual(v, want[k], k)


class RaceIdNormalization(unittest.TestCase):
    def test_shapes(self):
        cases = {"Cup 25": "cup25", "league:04": "league04", "race_11": "race11",
                 "  Race 7 ": "race7", "no digits!": "nodigits", "2024": "2024", "": ""}
        for raw, want in cases.items():
            self.assertEqual(gen.standardize_race_id(raw), want, raw)
        self.assertIsNone(gen.standardize_race_id(None))


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = run.tail(list(range(100)))
        self.assertEqual((value, pct, n), (89, 90.0, 100))

    def test_short_runs_interpolate_p90(self):
        value, pct, n = run.tail([3.0, 1.0, 2.0])
        self.assertEqual(n, 3)
        self.assertEqual(pct, 90.0)
        self.assertAlmostEqual(value, 2.8)

    def test_p90_until_ten_beyond_reaches_it(self):
        value, pct, n = run.tail(list(range(99)))
        self.assertEqual((pct, n), (90.0, 99))
        self.assertAlmostEqual(value, 88.2)


class RowsRead(unittest.TestCase):
    def test_counts_each_named_table_once(self):
        sql = "SELECT * FROM events e JOIN events f ON e.k = f.k JOIN nation USING (n)"
        self.assertEqual(run.rows_read(sql, 0.1), gen._rows("events", 0.1) + 25)
        self.assertEqual(run.rows_read("SELECT 1 AS eventsx", 0.1), 0)


if __name__ == "__main__":
    unittest.main()
