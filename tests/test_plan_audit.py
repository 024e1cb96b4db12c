"""tools/plan_audit.py counts each physical operator once: over the main
tree and every subquery, never twice for a subquery that two operators
host.  Static check on a ``formatted`` explain, no Spark."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import plan_audit  # noqa: E402

# ``formatted`` explain of
#   SELECT id FROM t WHERE id > (SELECT avg(id) FROM t)
#                      AND id IN (SELECT max(id) FROM t)
# (detail bodies trimmed).  The scalar subquery is hosted by the Filter
# and by the scan it is pushed into, so its tree is drawn twice.
PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- BroadcastHashJoin LeftSemi BuildRight (8)
   :- Filter (2)
   :  +- Scan parquet  (1)
   +- BroadcastExchange (7)
      +- HashAggregate (6)
         +- Exchange (5)
            +- HashAggregate (4)
               +- Scan parquet  (3)


(1) Scan parquet 
Output [1]: [id#1L]
PushedFilters: [IsNotNull(id)]

(2) Filter
Input [1]: [id#1L]
Condition : (isnotnull(id#1L) AND (cast(id#1L as double) > Subquery subquery#2, [id=#60]))

(3) Scan parquet 
Output [1]: [id#13L]

(4) HashAggregate
Input [1]: [id#13L]

(5) Exchange
Input [1]: [max#15L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=71]

(6) HashAggregate
Input [1]: [max#15L]

(7) BroadcastExchange
Input [1]: [max(id)#10L]

(8) BroadcastHashJoin
Left keys [1]: [id#1L]
Right keys [1]: [max(id)#10L]
Join type: LeftSemi

(9) AdaptiveSparkPlan
Output [1]: [id#1L]
Arguments: isFinalPlan=false

===== Subqueries =====

Subquery:1 Hosting operator id = 2 Hosting Expression = Subquery subquery#2, [id=#60]
AdaptiveSparkPlan (14)
+- HashAggregate (13)
   +- Exchange (12)
      +- HashAggregate (11)
         +- Scan parquet  (10)


(10) Scan parquet 
Output [1]: [id#11L]

(11) HashAggregate
Input [1]: [id#11L]

(12) Exchange
Input [2]: [sum#18, count#19L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=48]

(13) HashAggregate
Input [2]: [sum#18, count#19L]

(14) AdaptiveSparkPlan
Output [1]: [avg(id)#6]
Arguments: isFinalPlan=false

Subquery:2 Hosting operator id = 1 Hosting Expression = Subquery subquery#2, [id=#63]
AdaptiveSparkPlan (14)
+- HashAggregate (13)
   +- Exchange (12)
      +- HashAggregate (11)
         +- Scan parquet  (10)
"""


def test_counts_main_tree_and_subqueries_once():
    ops = plan_audit.plan_operators(PLAN).splitlines()
    assert len(ops) == 14
    text = "\n".join(ops)
    assert text.count("BroadcastHashJoin") == 1
    # shuffle (5), broadcast (7) and the subquery's shuffle (12)
    assert text.count("Exchange") == 3
    assert text.count("Scan parquet") == 3
