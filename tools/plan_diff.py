#!/usr/bin/env python3
"""Compare two `graft.PlanDump` trees and print the queries whose plans differ.

Usage: python3 tools/plan_diff.py DIR_A DIR_B [--show]

Each tree holds one `<query>.txt` per query (`sbt "runMain graft.PlanDump
<tag> all"` writes `plans/<tag>/`). Before comparing, each plan is
normalized so that run-to-run noise does not count as a difference:

- expression ids (`col#123L`), `plan_id=N` and RDD ids;
- lambda names: JVM lambda classes (`Foo$$$Lambda$7596/0x00007fbe719bed10`)
  and lambda variables (`lambda x_17`);
- object hash codes (`Foo@1a2b3c4d`) and UUIDs (part-file names);
- call-site line numbers (`Pipeline.scala:123`);
- the random suffix of temp directories (`graft-wh1234567890`).

Two plans that differ only in which side of a broadcast join is built
(AQE picks BuildLeft in some runs and BuildRight in others for a
self-join of two equal sides) also count as equal. Only when the two
plans' sequences of BuildLeft/BuildRight tokens differ, each plan is
rebuilt as its operator tree, every node followed by its detail block,
with the build side, the broadcast nodes directly under such a join and
the node, codegen and query-stage numbers left out; the two trees must
then match in order, so an operator that moved still counts.

Prints one line per differing query (`differs: q7`), one per query found
in only one tree (`only in A: q7`), then a summary line. `--show` adds a
unified diff of the normalized plans. Exit status, as diff(1): 0 when
every plan matches, 1 when some differ, 2 on a usage error.
"""

import difflib
import os
import re
import sys

_RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N/0xH"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"),
     "UUID"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"(\w+\.(?:scala|java)):\d+"), r"\1:N"),
    (re.compile(r"(/[A-Za-z][\w.]*?-?[A-Za-z]+)\d{6,}"), r"\1N"),
]

_BUILD = re.compile(r"\bBuild(?:Left|Right)\b")
_BROADCAST = re.compile(r"^(?:BroadcastExchange|BroadcastQueryStage)\b")
_DETAIL = re.compile(r"^\((\d+)\) (.*)$")
# a plan line: tree drawing, an optional codegen star, the operator, and
# its node number followed by any annotation (`, Statistics(...)`);
# `== Final Plan ==` markers and other lines have no number
_TREE = re.compile(r"^([ :]*?(?:[+:]- )?)(?:\* )?([^\s:+].*?)(?: \((\d+)\)(.*))?$")
_NUMBERS = [
    (re.compile(r"operator id(\s*[:=]\s*)\d+"), r"operator id\1N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"^Subquery:\d+", re.M), "Subquery:N"),
    (re.compile(r"^(\s*\| Arguments: )\d+$", re.M), r"\1N"),  # stage ids
]


def normalize(text):
    """The plan text with run-to-run noise replaced by fixed tokens."""
    for pattern, repl in _RULES:
        text = pattern.sub(repl, text)
    return text


def build_side_free(text):
    """`text` (normalized) as its operator trees in order, each node a
    line followed by its detail block and then its children, with the
    join build side, the broadcast nodes under such a join and the
    numbers a moved broadcast renumbers left out: equal for two plans
    that differ only in the build side.
    """
    details, paragraphs = {}, []
    for para in text.split("\n\n"):
        lines = [l for l in para.splitlines() if l.strip()]
        head = _DETAIL.match(lines[0]) if lines else None
        if head:
            details[head.group(1)] = lines[1:]
        elif lines:
            paragraphs.append(lines)

    def render(node, depth, out):
        name, number, kids = node
        out.append("  " * depth + _BUILD.sub("Build", name))
        out.extend("  " * depth + "| " + l for l in details.get(number, []))
        for kid in kids:
            while _BUILD.search(name) and _BROADCAST.match(kid[0]) \
                    and len(kid[2]) == 1:
                kid = kid[2][0]
            render(kid, depth + 1, out)

    roots = []
    for lines in paragraphs:
        stack = []  # (column, node) of the open ancestors
        for line in lines:
            m = _TREE.match(line)
            if m:
                node = (m.group(2) + (m.group(4) or ""), m.group(3), [])
                column = len(m.group(1))
            else:
                node, column = (line.strip(), None, []), 0
            if node[0].startswith("== ") and column:
                # an AQE sub-plan marker belongs to the last
                # AdaptiveSparkPlan, though Spark may draw it left of
                # that node, and the sub-plan's root in the marker's
                # own column
                while stack and not stack[-1][1][0].startswith("AdaptiveSparkPlan"):
                    stack.pop()
                column -= 1
            else:
                while stack and stack[-1][0] >= column:
                    stack.pop()
            (stack[-1][1][2] if stack else roots).append(node)
            stack.append((column, node))
    out = []
    for node in roots:
        render(node, 0, out)
    text = "\n".join(out)
    for pattern, repl in _NUMBERS:
        text = pattern.sub(repl, text)
    return text


def read_tree(path):
    """{query name: plan text} for the `.txt` files directly in `path`."""
    out = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".txt"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                out[name[:-4]] = f.read()
    return out


def compare(a, b):
    """(differing queries, only in a, only in b), each sorted, for two
    {query: plan text} maps.
    """
    differ = []
    for q in sorted(set(a) & set(b)):
        na, nb = normalize(a[q]), normalize(b[q])
        if na != nb and (_BUILD.findall(na) == _BUILD.findall(nb)
                         or build_side_free(na) != build_side_free(nb)):
            differ.append(q)
    return differ, sorted(set(a) - set(b)), sorted(set(b) - set(a))


def main(argv):
    args = [x for x in argv if x != "--show"]
    if len(args) != 2 or not all(os.path.isdir(d) for d in args):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = read_tree(args[0]), read_tree(args[1])
    differ, only_a, only_b = compare(a, b)
    for q in differ:
        print(f"differs: {q}")
        if "--show" in argv:
            sys.stdout.writelines(difflib.unified_diff(
                normalize(a[q]).splitlines(True), normalize(b[q]).splitlines(True),
                f"A/{q}", f"B/{q}"))
    for q in only_a:
        print(f"only in A: {q}")
    for q in only_b:
        print(f"only in B: {q}")
    shared = len(set(a) & set(b))
    print(f"{len(differ)} of {shared} shared plans differ; "
          f"{len(only_a)} only in A, {len(only_b)} only in B")
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
