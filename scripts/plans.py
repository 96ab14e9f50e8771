#!/usr/bin/env python3
"""Regenerate the PLANS.md summary table from PlanAudit output:
    sbt -batch "runMain graft.PlanAudit" > /tmp/plans.txt 2>/dev/null
    python3 scripts/plans.py /tmp/plans.txt > PLANS.md  (or edit in place)
Counts shuffle exchanges / broadcasts / parquet pushdown per query."""
import re
import sys

HEADER = """# PLANS — physical-plan audit (sf0.001, local[4])

Per query: shuffle exchanges, broadcasts, parquet pushdown.
Generated by `runMain graft.PlanAudit` + `scripts/plans.py`
(rerun PlanAudit for the full formatted plans).

| query | shuffles | broadcasts | pushed filters |
|---|---|---|---|
"""

FOOTER = """
Notes:
- nested-loop joins appear only where intended: tiny broadcast sides
  (1-row watermark/clock aggregates; the 8-vector ANN query set).
- `cdc_merge` is a single hash shuffle with map-side partial
  aggregation (max-of-struct LWW); `asof_enrich` is one shuffle
  (union+window), `range_join_events` is a hash join on (key, band)
  with the range predicate as a residual.
- dedup/ANN queries shuffle on band/bucket/centroid keys only; pair
  generation is two-phase (a (count,min) bucket profile, then an
  all-pairs path for buckets <= 64 docs and a keeper-star JOIN above
  that), so no reducer ever materializes a bucket-sized array under
  mass duplication — the extra profile/join exchanges in the dedup
  rows move tiny profile relations, not the corpus. The dedup
  signature hash is engine-portable md5 (oracle-checked) — the
  64-wide signature aggregate runs once per query (checkpointed).
- `value_median` windows over the (op, value) pre-aggregate, never raw
  rows; `olap_top_revenue` is TakeOrderedAndProject, not a global sort.
- `incremental_agg` touches the base table only through the delta
  join; OLAP dims (customer-segment, supplier, nation) broadcast.
- PlanSpec asserts the load-bearing shapes (single-shuffle merge,
  shuffle-free projections, broadcast dims, TakeOrdered top-k,
  aggregate-below-window median, no cartesians) in CI.
- checkpoint-staged queries UNDERCOUNT here: the dump shows only the
  stage past the last localCheckpoint. `dup_cluster` /
  `cluster_size_hist` run 2-3 convergence-gated label-propagation
  rounds (pointer jumping; ~3 shuffles each over the tiny label
  relation) before their visible plan; `pq_train` /
  `pq_recall_trained` run 2 integer Lloyd rounds (1 subvector
  aggregate + 1 broadcast-assign each) behind theirs;
  `stream_merge_parity` executes the micro-batch replay at
  construction. The executed-round shuffle totals replaced the old
  fixed-10-round chain (44 visible shuffles) — fewer shuffles run
  now, they just run before the final plan.
"""


STAGED_HEADER = """
## STAGED-PLANS — build chains behind the checkpoint boundary

The relations `graft.Staged` materializes once per (session, corpus),
one row per registry entry. These are the plans that EXECUTE at
materialization time — each build over its staged inputs (a Lloyd
chain: its last round over the staged previous round) — invisible to
the per-query rows above, so they get their own audited rows (same
counting rules; PlanSpec drift-gates both tables).

| build | shuffles | broadcasts | pushed filters |
|---|---|---|---|
"""


def main(path):
    text = open(path, encoding="utf-8").read()
    out = [HEADER]
    staged = []
    # PlanAudit headers are 17 '='; FormattedMode's own "===== Subqueries
    # =====" divider (5 '=') must stay inside its owning query's block
    blocks = re.split(r"={10,} (\S+) ={10,}", text)[1:]
    for name, body in sorted(zip(blocks[0::2], blocks[1::2])):
        # formatted-mode details: one "(id) NodeName" line per operator
        shuffles = len(re.findall(r"(?m)^\(\d+\) Exchange$", body))
        bcast = len(re.findall(r"(?m)^\(\d+\) BroadcastHashJoin$", body))
        nested = len(re.findall(
            r"(?m)^\(\d+\) BroadcastNestedLoopJoin$", body))
        pushed = sorted(set(
            m.group(1)[:48] for m in
            re.finditer(r"PushedFilters: \[([^\]]+)\]", body)
            if m.group(1).strip()))
        bcol = str(bcast) + (f" (+{nested} nested-loop)" if nested else "")
        pcol = "; ".join(pushed) if pushed else "—"
        row = f"| {name} | {shuffles} | {bcol} | {pcol} |\n"
        (staged if name.startswith("staged:") else out).append(row)
    if staged:
        out.append(STAGED_HEADER)
        out.extend(staged)
    out.append(FOOTER)
    sys.stdout.write("".join(out))


if __name__ == "__main__":
    main(sys.argv[1])
