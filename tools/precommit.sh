#!/usr/bin/env bash
# Pre-commit guard: never commit a snapshot that doesn't compile.
# Usage: tools/precommit.sh [--full | --oracle q_a,q_b | --index | --stores]
#   default:  sbt compile Test/compile   (~seconds, catches round-2's failure mode)
#   --full:   also runs the ScalaTest suite
#   --oracle: runs graft.Verify for the listed queries only, then compares
#             them with their DuckDB oracles (tools/check.py). The sf0.01
#             fixtures come from $SPARK_GRAFT_SF_DIR, else testdata/sf0.01
#             beside the checkout.
#   --index:  the index lifecycle check: the specs of the four persisted
#             index families (IVF, IVF-PQ, graph, token) and their
#             streaming sinks, then the 26 index oracle rows as --oracle.
#   --stores: the specs of every store that commits through the blue/green
#             GoldSink or the shared LocalFs lock and atomic replace (gold
#             sets, keyed streaming stores, stage state, embed state, the
#             item-mapping cache), plus both bucketed-table specs. No
#             oracle row reaches these stores.
set -euo pipefail
cd "$(dirname "$0")/.."

INDEX_SPECS="graft.ops.IvfIndexSpec graft.ops.PqIndexSpec \
graft.ops.ListIndexLifecycleSpec graft.ops.GraphIndexDeleteSpec \
graft.ops.MaxSimIndexSpec graft.ops.IndexBranchSpec \
graft.ops.TreeRetentionSpec graft.ops.IndexUpdateEquivalenceSpec \
graft.ops.IndexJobBudgetSpec graft.ops.IndexLogCountSpec \
graft.ops.CodebookKernelEquivalenceSpec graft.streaming.StreamingIvf* \
graft.streaming.StreamingPq* graft.streaming.StreamingGraphMaintenanceSpec \
graft.streaming.StreamingMaxSimMaintenanceSpec"
# 17 IVF / IVF-PQ rows, 2 token-index rows, 7 graph-index rows.
INDEX_ROWS="q_ann_ivf_delete,q_ann_ivf_persist,q_ann_ivf_refit,\
q_ann_ivf_rollback,q_ann_ivf_topk,q_ann_ivf_upsert,q_ann_ivfpq_compact,\
q_ann_ivfpq_delete,q_ann_ivfpq_persist,q_ann_ivfpq_refit,q_ann_ivfpq_upsert,\
q_ivf_drift,q_ivf_pq_topk,q_pq_adc_topk,q_pq_drift,q_pq_encode,q_pq_rerank,\
q_maxsim_index,q_maxsim_delete,\
q_ann_graph_topk,q_ann_graph_persist,q_ann_graph_delete,q_ann_graph_compact,\
q_ann_graph_rollback,q_ann_filtered_graph,q_ann_filtered_broad"

STORE_SPECS="graft.gold.GoldSink* graft.gold.StageGate* \
graft.streaming.StreamingGoldSpec graft.streaming.StreamingCountMinSpec \
graft.streaming.StreamingDistinctSpec graft.streaming.StreamingCurationSpec \
graft.streaming.StreamingOsrsGoldSpec graft.streaming.EmbedUpsertSinkSpec \
graft.sources.ItemMappingDimSpec graft.OsrsPipelineSpec \
graft.gold.BucketingSpec graft.ops.BucketedJoinSpec"

oracle() {
  local sf="${SPARK_GRAFT_SF_DIR:-$(pwd)/../testdata/sf0.01}"
  local out="target/verify_oracle"
  rm -rf "$out"
  SPARK_GRAFT_ONLY="$1" sbt -batch "runMain graft.Verify $sf $out"
  SPARK_GRAFT_ONLY="$1" python3 tools/check.py "$sf" "$out"
}

if [[ "${1:-}" == "--full" ]]; then
  sbt -batch compile Test/compile test
elif [[ "${1:-}" == "--oracle" ]]; then
  [[ -n "${2:-}" ]] || { echo "usage: tools/precommit.sh --oracle q_a,q_b" >&2; exit 2; }
  oracle "$2"
elif [[ "${1:-}" == "--index" ]]; then
  sbt -batch "testOnly $INDEX_SPECS"
  oracle "$INDEX_ROWS"
elif [[ "${1:-}" == "--stores" ]]; then
  sbt -batch "testOnly $STORE_SPECS"
else
  sbt -batch compile Test/compile
fi
echo "precommit: OK"
