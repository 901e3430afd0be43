#!/usr/bin/env bash
# Pre-commit guard: never commit a snapshot that doesn't compile.
# Usage: tools/precommit.sh [--full | --oracle q_a,q_b]
#   default:  sbt compile Test/compile   (~seconds, catches round-2's failure mode)
#   --full:   also runs the ScalaTest suite
#   --oracle: runs graft.Verify for the listed queries only, then compares
#             them with their DuckDB oracles (tools/check.py). The sf0.01
#             fixtures come from $SPARK_GRAFT_SF_DIR, else testdata/sf0.01
#             beside the checkout.
set -euo pipefail
cd "$(dirname "$0")/.."
if [[ "${1:-}" == "--full" ]]; then
  sbt -batch compile Test/compile test
elif [[ "${1:-}" == "--oracle" ]]; then
  [[ -n "${2:-}" ]] || { echo "usage: tools/precommit.sh --oracle q_a,q_b" >&2; exit 2; }
  sf="${SPARK_GRAFT_SF_DIR:-$(pwd)/../testdata/sf0.01}"
  out="target/verify_oracle"
  rm -rf "$out"
  SPARK_GRAFT_ONLY="$2" sbt -batch "runMain graft.Verify $sf $out"
  SPARK_GRAFT_ONLY="$2" python3 tools/check.py "$sf" "$out"
else
  sbt -batch compile Test/compile
fi
echo "precommit: OK"
