#!/usr/bin/env python3
"""Unit test of tools/plan_diff.py's normalisation: python3 tools/test_plan_diff.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from plan_diff import canonical_expand, normalise  # noqa: E402

# a distinct-aggregate plan as ExplainQuery dumps it (trimmed): count(*)
# plus count(DISTINCT l_partkey) and count(DISTINCT l_suppkey)
PLAN = """(1) Scan parquet
Output [3]: [l_partkey#10L, l_suppkey#11L, l_returnflag#12]

(2) Expand
Input [3]: [l_partkey#10L, l_suppkey#11L, l_returnflag#12]
Arguments: [[l_returnflag#12, null, null, 0], \
[l_returnflag#12, l_partkey#10L, null, 1], \
[l_returnflag#12, null, l_suppkey#11L, 2]], \
[l_returnflag#12, l_partkey#21L, l_suppkey#22L, gid#20]

(3) HashAggregate
Keys [4]: [l_returnflag#12, l_partkey#21L, l_suppkey#22L, gid#20]
Results [5]: [l_returnflag#12, l_partkey#21L, l_suppkey#22L, gid#20, count#30L]

(4) Exchange
Arguments: hashpartitioning(l_returnflag#12, l_partkey#21L, \
l_suppkey#22L, gid#20, 4), ENSURE_REQUIREMENTS, [plan_id=5]

(6) HashAggregate
Functions [3]: [partial_count(l_partkey#21L) FILTER (WHERE (gid#20 = 1)), \
partial_count(l_suppkey#22L) FILTER (WHERE (gid#20 = 2)), \
partial_first(count(1)#31L, true) FILTER (WHERE (gid#20 = 0))]
"""

# the same plan with the two distinct groups in the other order, as Spark
# plans it when the hash map of groups iterates the other way: the
# distinct columns, their fresh ids, their rows and their gids all swap
SWAPPED = """(1) Scan parquet
Output [3]: [l_partkey#110L, l_suppkey#111L, l_returnflag#112]

(2) Expand
Input [3]: [l_partkey#110L, l_suppkey#111L, l_returnflag#112]
Arguments: [[l_returnflag#112, null, null, 0], \
[l_returnflag#112, l_suppkey#111L, null, 1], \
[l_returnflag#112, null, l_partkey#110L, 2]], \
[l_returnflag#112, l_suppkey#121L, l_partkey#122L, gid#120]

(3) HashAggregate
Keys [4]: [l_returnflag#112, l_suppkey#121L, l_partkey#122L, gid#120]
Results [5]: [l_returnflag#112, l_suppkey#121L, l_partkey#122L, gid#120, count#130L]

(4) Exchange
Arguments: hashpartitioning(l_returnflag#112, l_suppkey#121L, \
l_partkey#122L, gid#120, 4), ENSURE_REQUIREMENTS, [plan_id=9]

(6) HashAggregate
Functions [3]: [partial_count(l_partkey#122L) FILTER (WHERE (gid#120 = 2)), \
partial_count(l_suppkey#121L) FILTER (WHERE (gid#120 = 1)), \
partial_first(count(1)#131L, true) FILTER (WHERE (gid#120 = 0))]
"""


class ExpandOrderTest(unittest.TestCase):

    def test_swapped_groups_compare_equal(self):
        self.assertEqual(normalise(PLAN), normalise(SWAPPED))

    def test_canonical_order_is_a_fixed_point(self):
        self.assertEqual(normalise(normalise(PLAN)), normalise(PLAN))

    def test_projection_change_still_differs(self):
        # a distinct column replaced by another one
        changed = SWAPPED.replace("l_suppkey#111L, null, 1",
                                  "l_orderkey#113L, null, 1")
        self.assertNotEqual(normalise(PLAN), normalise(changed))

    def test_filter_pointing_at_another_group_still_differs(self):
        changed = PLAN.replace("partial_count(l_partkey#21L) FILTER "
                               "(WHERE (gid#20 = 1))",
                               "partial_count(l_partkey#21L) FILTER "
                               "(WHERE (gid#20 = 2))")
        self.assertNotEqual(normalise(PLAN), normalise(changed))

    def test_plans_without_a_gid_expand_are_left_alone(self):
        cube = ("(2) Expand\nInput [2]: [a#1, b#2]\nArguments: "
                "[[a#1, b#2, 0], [a#1, null, 1]], [a#1, b#3, "
                "spark_grouping_id#4L]\n")
        self.assertEqual(canonical_expand(cube), cube)


if __name__ == "__main__":
    unittest.main()
