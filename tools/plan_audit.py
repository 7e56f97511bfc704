#!/usr/bin/env python3
"""Regenerate PLAN_AUDIT.md from a `runMain graft.ExplainExec` dump.

Usage:
  sbt -batch "runMain graft.ExplainExec /root/testdata/sf0.01" > /tmp/plans.txt
  python3 tools/plan_audit.py /tmp/plans.txt > PLAN_AUDIT.md

The dump holds each query's executed plan in Spark's formatted explain
mode. Counts per query: shuffle exchanges and broadcast exchanges of the
plan that ran (AQE's final plans, not the initial plans listed next to
them), parquet filter pushdown, and flags every CartesianProduct (none may
exist), broadcast nested-loop join, or custom TopKPerKey node.
"""
import re, sys

dump = open(sys.argv[1] if len(sys.argv) > 1 else '/tmp/plans.txt').read()
sections = re.split(r'={10} (\w+) ={10}', dump)[1:]
queries = dict(zip(sections[0::2], sections[1::2]))

HEADER = """# PLAN AUDIT (generated from `runMain graft.ExplainExec`, sf0.01)

Scale checklist per query, read off the physical plans: shuffle exchange
count, broadcast exchange count, parquet filter pushdown where a filter
exists to push. **No CartesianProduct appears in any plan.** `BNLJ` marks
an intentional broadcast nested-loop join whose build side is bounded and
tiny (the ANN query set; single-row count frames inside IDF/metrics) —
the probe side streams and never shuffles for it. `TopKPerKey` marks the
custom two-phase heap operator replacing window-sort ranking.

| query | shuffle exchanges | broadcast exchanges | pushdown | notes |
|---|---|---|---|---|"""


def final_ids(plan):
    """Ids of the operators in the plan's trees, minus those listed only
    under an AdaptiveSparkPlan's '== Initial Plan ==' header: the lines
    indented deeper than the header, up to the first line that is not."""
    ids, header_col = set(), None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(' :|'))
        if header_col is not None and (not line.strip() or col <= header_col):
            header_col = None
        if '== Initial Plan ==' in line:
            header_col = col
        elif header_col is None and not line.startswith('('):
            ids.update(re.findall(r' \((\d+)\)(?:,|$)', line))
    return ids


def count(node, plan, ids):
    return sum(1 for i in re.findall(r'^\((\d+)\) ' + node + r'\b', plan, re.M) if i in ids)


print(HEADER)
cartesians = []
for name in sorted(queries):
    plan = queries[name]
    # AQEShuffleRead nodes re-read an Exchange's output (coalesced); they
    # are not additional shuffles, so only Exchange nodes are counted.
    ids = final_ids(plan)
    shuf = count('Exchange', plan, ids)
    bcast = count('BroadcastExchange', plan, ids)
    pushed = 'yes' if re.search(r'PushedFilters: \[[^\]]', plan) else '-'
    notes = []
    if 'CartesianProduct' in plan:
        notes.append('CARTESIAN!'); cartesians.append(name)
    if 'BroadcastNestedLoopJoin' in plan:
        notes.append('BNLJ')
    if 'TopKPerKey' in plan:
        notes.append('TopKPerKey')
    if plan.strip().startswith('ERROR'):
        notes.append('ERROR')
    print(f"| {name} | {shuf} | {bcast} | {pushed} | {' '.join(notes)} |")
if cartesians:
    print(f"\n**CARTESIAN PRODUCTS FOUND: {cartesians}**", file=sys.stderr)
    sys.exit(1)
