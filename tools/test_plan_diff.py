"""Tests for plan_diff.py. Run: python3 -m unittest discover -s tools"""

import contextlib
import io
import os
import re
import tempfile
import unittest

import plan_diff

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- Project (4)
   +- BroadcastHashJoin Inner BuildRight (3)
      :- BatchScan graft.t (1)
      +- BroadcastExchange (2)
         +- BatchScan graft.t (1)


(1) BatchScan graft.t
Output [2]: [id#{a}L, v#{b}]
Location: /tmp/graft-wh{tmp}/t/part-00000-{uuid}-c000.snappy.parquet

(2) BroadcastExchange
Input [2]: [id#{a}L, v#{b}]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id={p}]

(3) BroadcastHashJoin
Left keys [1]: [id#{a}L]
Right keys [1]: [id#{a}L]
Join type: Inner

(4) Project
Output [1]: [transform(v#{b}, lambdafunction(lambda x_{x}, lambda x_{x})) AS w#{c}]
Input [2]: [id#{a}L, v#{b}]
Arguments: graft.Udf@{h} at Pipeline.scala:{line}, graft.Ops$$$Lambda${lam}@{h}

(5) AdaptiveSparkPlan
Output [1]: [w#{c}]
Arguments: isFinalPlan=false
"""

FLIPPED = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- Project (4)
   +- BroadcastHashJoin Inner BuildLeft (3)
      :- BroadcastExchange (2)
      :  +- BatchScan graft.t (1)
      +- BatchScan graft.t (1)


(1) BatchScan graft.t
Output [2]: [id#12L, v#13]
Location: /tmp/graft-wh4444444444/t/part-00000-0b66637b-c9d1-4966-a7f4-2fd38009f26d-c000.snappy.parquet

(2) BroadcastExchange
Input [2]: [id#12L, v#13]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=9]

(3) BroadcastHashJoin
Left keys [1]: [id#12L]
Right keys [1]: [id#12L]
Join type: Inner

(4) Project
Output [1]: [transform(v#13, lambdafunction(lambda x_3, lambda x_3)) AS w#14]
Input [2]: [id#12L, v#13]
Arguments: graft.Udf@beef01 at Pipeline.scala:7, graft.Ops$$$Lambda$12/0x00007f261d9b9a48@beef01

(5) AdaptiveSparkPlan
Output [1]: [w#14]
Arguments: isFinalPlan=false
"""


def plan(a=1, b=2, c=3, tmp="1234567890", p=7, x=0, h="1a2b3c4d", line=120,
         uuid="a9074d94-6c36-46e0-a049-084dca894ff1",
         lam="7596/0x00007fbe719bed10"):
    return PLAN.format(a=a, b=b, c=c, tmp=tmp, p=p, x=x, h=h, line=line,
                       uuid=uuid, lam=lam)


def formatted(root):
    """Spark's formatted-explain text of `root`, an (operator, [detail
    lines], [children]) tree: the drawn tree, then one detail block per
    node, numbered in post-order as Spark numbers them.
    """
    numbers, blocks, lines = {}, [], []

    def number(node):
        for kid in node[2]:
            number(kid)
        numbers[id(node)] = len(numbers) + 1
        blocks.append("(%d) %s\n%s" % (numbers[id(node)],
                                        node[0].lstrip("* "),
                                        "".join(l + "\n" for l in node[1])))

    def draw(node, prefix, head):
        lines.append("%s%s%s (%d)" % (prefix, head, node[0], numbers[id(node)]))
        for i, kid in enumerate(node[2]):
            last = i == len(node[2]) - 1
            draw(kid, prefix + ("" if not head else
                                "   " if head == "+- " else ":  "),
                 "+- " if last else ":- ")

    number(root)
    draw(root, "", "")
    return ("== Physical Plan ==\n" + "\n".join(lines) + "\n\n\n"
            + "\n".join(blocks))


def scan(cols="id#1L, v#2"):
    return ("BatchScan graft.t", ["Output [2]: [%s]" % cols], [])


def broadcast(child):
    return ("BroadcastExchange", ["Input [2]: [id#1L, v#2]"], [child])


def join(build, left, right):
    return ("* BroadcastHashJoin Inner " + build,
            ["Left keys [1]: [id#1L]", "Right keys [1]: [id#3L]"], [left, right])


def top(child):
    return ("AdaptiveSparkPlan", ["Arguments: isFinalPlan=false"], [child])


def exchange(child):
    return ("Exchange", ["Arguments: hashpartitioning(id#1L, 4)"], [child])


def keep(child):
    return ("Filter", ["Condition : (id#1L > 5)"], [child])


def with_details(tree):
    """`tree`, a drawn plan, followed by one detail block per node number
    whose body names the operator, as Spark's formatted explain prints.
    """
    blocks = {}
    for line in tree.splitlines():
        m = re.search(r"(\w[\w ]*?) \((\d+)\)", line)
        if m and not line.startswith("=="):
            blocks.setdefault(int(m.group(2)), "(%s) %s\nOutput [1]: [%s#%s]\n" % (
                m.group(2), m.group(1), m.group(1).split()[0].lower(), m.group(2)))
    return tree + "\n\n" + "\n".join(blocks[n] for n in sorted(blocks))


# a broadcast join over a cached relation whose AQE sub-plan Spark draws
# left of its AdaptiveSparkPlan node, built on the right ...
CACHED_RIGHT = with_details("""== Physical Plan ==
AdaptiveSparkPlan (13)
+- BroadcastHashJoin Inner BuildRight (12)
   :- Filter (4)
   :  +- TableCacheQueryStage (3), Statistics(sizeInBytes=223.2 KiB, rowCount=500)
   :     +- InMemoryTableScan (1)
   :           +- InMemoryRelation (2)
   :                 +- AdaptiveSparkPlan (8)
            +- == Final Plan ==
               Project (6)
               +- Scan parquet  (5)
            +- == Initial Plan ==
               Project (7)
               +- Scan parquet  (5)
   +- BroadcastQueryStage (11), Statistics(sizeInBytes=1.0 MiB, rowCount=500)
      +- BroadcastExchange (10)
         +- Sort (9)
            +- Scan parquet  (5)""")

# ... and built on the left: the broadcast nodes move, every node after
# them is renumbered and the sub-plan is drawn in other columns
CACHED_LEFT = with_details("""== Physical Plan ==
AdaptiveSparkPlan (13)
+- BroadcastHashJoin Inner BuildLeft (12)
   :- BroadcastQueryStage (10), Statistics(sizeInBytes=1.0 MiB, rowCount=500)
   :  +- BroadcastExchange (9)
   :     +- Filter (4)
   :        +- TableCacheQueryStage (3), Statistics(sizeInBytes=223.2 KiB, rowCount=500)
   :           +- InMemoryTableScan (1)
   :                 +- InMemoryRelation (2)
   :                       +- AdaptiveSparkPlan (8)
                  +- == Final Plan ==
                     Project (6)
                     +- Scan parquet  (5)
                  +- == Initial Plan ==
                     Project (7)
                     +- Scan parquet  (5)
   +- Sort (11)
      +- Scan parquet  (5)""")


class PlanDiffTest(unittest.TestCase):

    def same(self, pa, pb):
        return not plan_diff.compare({"q": pa}, {"q": pb})[0]

    def test_run_noise_is_equal(self):
        self.assertTrue(self.same(plan(), plan(
            a=901, b=902, c=903, tmp="9876543210", p=88, x=41, h="ffee0011",
            line=133, uuid="0b66637b-c9d1-4966-a7f4-2fd38009f26d",
            lam="7624/0x00007f261d9b9a48")))

    def test_build_side_flip_is_equal(self):
        self.assertTrue(self.same(plan(), FLIPPED))

    def test_renumbered_build_side_flip_is_equal(self):
        # the broadcast moves to the other side, which renumbers every
        # node Spark visits after it
        right = top(join("BuildRight", scan(), broadcast(scan("id#3L, v#4"))))
        left = top(join("BuildLeft", broadcast(scan()), scan("id#3L, v#4")))
        self.assertNotEqual(formatted(right), formatted(left))
        self.assertTrue(self.same(formatted(right), formatted(left)))

    def test_flip_over_an_aqe_sub_plan_is_equal(self):
        self.assertTrue(self.same(CACHED_RIGHT, CACHED_LEFT))
        # an operator moved inside the flipped side still differs
        moved = CACHED_LEFT.replace(
            ":     +- Filter (4)\n   :        +- TableCacheQueryStage (3)",
            ":     +- TableCacheQueryStage (3)\n   :        +- Filter (4)")
        self.assertNotEqual(moved, CACHED_LEFT)
        self.assertFalse(self.same(CACHED_RIGHT, moved))
        # and so does a changed operator inside the sub-plan
        self.assertFalse(self.same(CACHED_RIGHT, CACHED_LEFT.replace(
            "Project (6)", "Filter (6)")))

    def test_a_moved_operator_differs(self):
        above = top(keep(exchange(scan())))
        below = top(exchange(keep(scan())))
        self.assertFalse(self.same(formatted(above), formatted(below)))
        # also when the build side flips in the same plans
        self.assertFalse(self.same(
            formatted(top(join("BuildRight", keep(exchange(scan())),
                               broadcast(scan("id#3L, v#4"))))),
            formatted(top(join("BuildLeft", broadcast(exchange(keep(scan()))),
                               scan("id#3L, v#4"))))))

    def test_swapped_join_children_differ(self):
        # same build side, the join's inputs in the other order
        self.assertFalse(self.same(
            formatted(top(join("BuildRight", scan(), broadcast(keep(scan()))))),
            formatted(top(join("BuildRight", keep(scan()), broadcast(scan()))))))

    def test_a_changed_operator_differs(self):
        changed = plan().replace("BatchScan graft.t", "Scan parquet ")
        self.assertFalse(self.same(plan(), changed))
        # also when the build side flips in the same plan
        self.assertFalse(self.same(
            plan(), FLIPPED.replace("BatchScan graft.t", "Scan parquet ")))

    def test_a_changed_detail_differs(self):
        self.assertFalse(self.same(plan(), plan().replace(
            "Join type: Inner", "Join type: LeftOuter")))

    def test_trees_and_exit_status(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            os.makedirs(a)
            os.makedirs(b)
            plans_a = {"q1": plan(), "q2": plan(), "q3": plan(), "old": plan()}
            plans_b = {"q1": plan(a=77), "q2": FLIPPED,
                       "q3": plan().replace("Project", "Filter"), "new": plan()}
            for root, plans in ((a, plans_a), (b, plans_b)):
                for q, text in plans.items():
                    with open(os.path.join(root, q + ".txt"), "w") as f:
                        f.write(text)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                status = plan_diff.main([a, b])
            self.assertEqual(status, 1)
            self.assertEqual(out.getvalue().splitlines(), [
                "differs: q3", "only in A: old", "only in B: new",
                "1 of 3 shared plans differ; 1 only in A, 1 only in B"])
            with contextlib.redirect_stdout(io.StringIO()):
                self.assertEqual(plan_diff.main([a, a]), 0)
            with contextlib.redirect_stderr(io.StringIO()):
                self.assertEqual(plan_diff.main([a]), 2)


if __name__ == "__main__":
    unittest.main()
