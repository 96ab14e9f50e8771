#!/usr/bin/env bash
# Amplified-parity lane: the full correctness gate ABOVE the largest
# generated sf, as ONE command.
#
#   scripts/amp_parity.sh [baseSfDir] [k] [workDir] [subset] [outJson]
#
# defaults: baseSfDir=/root/testdata/sf0.01  k=10  workDir=/tmp/graft_amp10
#           subset=full registry             outJson=CORRECTNESS_AMP.json
#
# 1. graft.AmplifyCorpus rewrites documents/events/embeddings AND the
#    TPC-H fact tables customer/orders/lineitem k-wide (structure-
#    preserving, copy-disjoint key offsets; dims symlinked),
# 2. graft.Verify dumps the parity set on the amplified dir,
# 3. scripts/parity.py hash-compares every result against DuckDB running
#    the same oracle SQL on the same amplified parquet,
# and the JSON verdict lands in $outJson at the repo root.
#
# The subset argument is a comma-separated list of query names or one of
# the named presets:
#
#   full          the whole query registry (also the default)
#   no-quadratic  the registry minus the five declared-quadratic kNN truth
#                 gates (knn_recall, knn_graph, knn_components, nn_descent,
#                 hubness_audit) -- the 100x tier
#   lane300       the linear-oracle document/event families (dedup chain,
#                 text quality, attribution/funnel/session and their
#                 streaming parities) -- the 300x tier
#
# The registry's names are read from PLANS.md's query table, whose row set
# PlanSpec pins to SparkEntry.queries. GRAFT_DUCK_MEM (read by parity.py)
# sets DuckDB's memory cap. The amplified tiers, one command each:
#
#   scripts/amp_parity.sh /root/testdata/sf0.01 10 /tmp/graft_amp10
#   scripts/amp_parity.sh /root/testdata/sf0.01 30 /tmp/graft_amp30 full \
#     CORRECTNESS_AMP30.json
#   GRAFT_DUCK_MEM=48GB scripts/amp_parity.sh /root/testdata/sf0.01 100 \
#     /tmp/graft_amp100 no-quadratic CORRECTNESS_AMP100.json
#   GRAFT_DUCK_MEM=48GB scripts/amp_parity.sh /root/testdata/sf0.01 300 \
#     /tmp/graft_amp300 lane300 CORRECTNESS_AMP300.json
set -euo pipefail
cd "$(dirname "$0")/.."

BASE="${1:-/root/testdata/sf0.01}"
K="${2:-10}"
WORK="${3:-/tmp/graft_amp10}"
SUBSET="${4:-}"
OUTJSON="${5:-CORRECTNESS_AMP.json}"
OUT="$WORK.out"

QUADRATIC="knn_recall knn_graph knn_components nn_descent hubness_audit"
LANE300="dedup_exact,dedup_minhash,dedup_ngram_jaccard,dedup_simhash,\
dedup_apply,dedup_incremental,dup_cluster,soft_dedup_weights,\
cluster_size_hist,cross_source_overlap,dup_token_share,dedup_sweep,\
span_dedup,substring_dedup,quality_filter,quality_gopher,text_stats,\
token_count,lang_id,doc_fingerprint,blocklist_filter,corpus_sample,\
split_assign,mix_weights,training_pipeline,attribution_last_touch,\
attribution_linear,attribution_position,funnel_conversion,sessionize,\
event_transitions,event_paths,cdc_merge,stream_linear_parity,\
stream_position_parity,stream_funnel_parity,stream_sessionize_parity,\
image_dedup"

# the query registry, one name a line, from PLANS.md's query table
registry() {
  awk -F'|' '/^## /{if (seen) exit} /^\| query \|/{seen = 1; next}
    seen && /^\| [a-z0-9_]+ \|/{gsub(/ /, "", $2); print $2}' PLANS.md
}

case "$SUBSET" in
  full) SUBSET="" ;;
  no-quadratic)
    SUBSET=$(registry | grep -vxF $(printf -- '-e %s ' $QUADRATIC) | paste -sd, -) ;;
  lane300) SUBSET="$LANE300" ;;
esac

echo "== amplify $BASE x$K -> $WORK"
sbt -batch "runMain graft.AmplifyCorpus $BASE $WORK $K"
echo "== verify ${SUBSET:+subset }-> $OUT"
rm -rf "$OUT"
if [ -n "$SUBSET" ]; then
  sbt -batch "runMain graft.Verify $WORK $OUT $SUBSET"
else
  sbt -batch "runMain graft.Verify $WORK $OUT"
fi
echo "== DuckDB parity -> $OUTJSON"
python3 scripts/parity.py "$OUT" "$WORK" "$OUTJSON"
