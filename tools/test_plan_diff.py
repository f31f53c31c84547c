"""Tests for tools/plan_diff.py. Run: python3 -m unittest discover tools"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

PLAN = """== Physical Plan ==
* Project (2)
+- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [2]: [c#{a}L, term#{b}]
Arguments: [c#{a}L, term#{b}], MapPartitionsRDD[{rdd}] at localCheckpoint \
at Cut.scala:{line}, ExistingRDD

(2) Project [codegen id : 1]
Output [1]: [aggregate(cs#{a}, 0.0, lambdafunction((lambda x_{x}#{b} + \
lambda y_{y}#{b}.term), lambda x_{x}#{b}, lambda y_{y}#{b}), \
lambdafunction(lambda id_{x}#{a}, lambda id_{x}#{a})) AS s#{b}]
Input [1]: [cs#{a}]
Arguments: graft.operators.Cut$$$Lambda${lam}/0x0000{lam}0@{lam}f
Location: InMemoryFileIndex [file:/tmp/graft_sources_{pid}/orders]
"""


def plan(**kw):
    v = dict(a=1, b=2, rdd=96, line=43, x=1, y=2, pid=1517, lam=2041)
    v.update(kw)
    return PLAN.format(**v)


def dump(**queries):
    return "".join(f"\n===================== {q} =====================\n{p}"
                   for q, p in queries.items())


class PlanDiffTest(unittest.TestCase):

    def diff(self, a, b):
        return plan_diff.compare(plan_diff.parse_dump(a),
                                 plan_diff.parse_dump(b))

    def test_id_only_difference_is_equal(self):
        a = dump(q1=plan(), q2=plan())
        b = dump(q1=plan(a=501, b=777, rdd=184, line=36, x=12, y=13,
                           lam=3170),
                 q2=plan(a=9))
        self.assertEqual(self.diff(a, b), ([], [], [], []))

    def test_per_pid_dir_difference_is_equal(self):
        self.assertEqual(self.diff(dump(q1=plan(pid=1517)),
                                   dump(q1=plan(pid=20422))),
                         ([], [], [], []))

    def test_changed_operator_is_reported(self):
        b = dump(q1=plan(), q2=plan().replace("Project", "Filter"))
        self.assertEqual(self.diff(dump(q1=plan(), q2=plan()), b),
                         ([], [], ["q2"], []))

    def test_changed_call_site_file_is_reported(self):
        b = dump(q1=plan().replace("Cut.scala", "Pairs.scala"))
        self.assertEqual(self.diff(dump(q1=plan()), b), ([], [], ["q1"], []))

    def test_missing_query_is_reported(self):
        self.assertEqual(self.diff(dump(q1=plan(), q2=plan()),
                                   dump(q1=plan())),
                         (["q2"], [], [], []))

    def test_expand_column_order_is_reported_apart(self):
        e = ("(3) Expand\nArguments: [[a#1, null, 0], [null, b#2, 1]], "
             "[a#3, b#4, gid#5]\n")
        swapped = ("(3) Expand\nArguments: [[null, b#2, 1], [a#1, null, 0]], "
                   "[b#4, a#3, gid#5]\n")
        self.assertEqual(self.diff(dump(q1=plan() + e),
                                   dump(q1=plan() + swapped)),
                         ([], [], [], ["q1"]))

    def test_sbt_log_lines_are_dropped(self):
        b = dump(q1=plan()) + "\n[success] Total time: 3 s\n"
        self.assertEqual(self.diff(dump(q1=plan()), b), ([], [], [], []))


if __name__ == "__main__":
    unittest.main()
