"""Unit tests of run.py's result-line parsing.

Run from the root of the repository:

    python3 -m unittest perfbench/test_run.py
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import parse_result  # noqa: E402

SPEC = {
    "end_to_end": [{"name": "batch_s", "unit": "s"}, {"name": "ops_per_s", "unit": "1/s"}],
    "per_layer": [{"name": "link.s", "unit": "s"}],
}


def line(**over):
    obj = {"correct": True, "attempted": 4, "failed": 0,
           "metrics": {"batch_s": {"value": 1.25, "unit": "s"},
                       "ops_per_s": {"value": 3.0123456789, "unit": "1/s"}}}
    obj.update(over)
    return json.dumps(obj)


class ParseResultTest(unittest.TestCase):

    def test_accepts_a_well_formed_line(self):
        r = parse_result(line(), SPEC, trace=False)
        self.assertEqual(r["metrics"]["ops_per_s"]["value"], 3.0123456789)

    def test_per_layer_metrics_for_a_traced_run(self):
        ok = line(metrics={"link.s": {"value": 0.0, "unit": "s"}})
        self.assertEqual(parse_result(ok, SPEC, trace=True)["attempted"], 4)
        with self.assertRaises(ValueError):
            parse_result(line(), SPEC, trace=True)

    def test_rejects_other_keys(self):
        obj = json.loads(line())
        obj["extra"] = 1
        with self.assertRaises(ValueError):
            parse_result(json.dumps(obj), SPEC, trace=False)

    def test_rejects_missing_or_extra_metrics(self):
        with self.assertRaises(ValueError):
            parse_result(line(metrics={"batch_s": {"value": 1.0, "unit": "s"}}), SPEC, False)
        m = json.loads(line())["metrics"]
        m["other"] = {"value": 1.0, "unit": "s"}
        with self.assertRaises(ValueError):
            parse_result(line(metrics=m), SPEC, False)

    def test_rejects_wrong_unit_and_non_numbers(self):
        m = json.loads(line())["metrics"]
        m["batch_s"]["unit"] = "ms"
        with self.assertRaises(ValueError):
            parse_result(line(metrics=m), SPEC, False)
        for bad in ("1.0", True, None):
            m = json.loads(line())["metrics"]
            m["batch_s"]["value"] = bad
            with self.assertRaises(ValueError):
                parse_result(line(metrics=m), SPEC, False)

    def test_rejects_bad_counts(self):
        for over in ({"attempted": 0}, {"attempted": 2.5}, {"failed": -1},
                     {"failed": True}, {"correct": "yes"}):
            with self.assertRaises(ValueError):
                parse_result(line(**over), SPEC, False)

    def test_rejects_text_that_is_not_json(self):
        with self.assertRaises(ValueError):
            parse_result("[info] done", SPEC, False)
        with self.assertRaises(ValueError):
            parse_result(line().replace("1.25", "NaN"), SPEC, False)


if __name__ == "__main__":
    unittest.main()
