#!/usr/bin/env bash
# Refresh the committed plan-shape ledger (docs/plans/*.txt): the executed
# (post-AQE) plan of each query, scrubbed of per-run ids so a git diff fires
# only on STRUCTURAL change (new exchange, lost pushdown, join strategy
# flip). Run after any change that could move a plan, then review the diff
# like code.
#
# Usage:  scripts/refresh_plans.sh            # every query with a committed plan file
#         scripts/refresh_plans.sh q3_shipping_priority ...  # just these (adds new files)
set -euo pipefail
cd "$(dirname "$0")/.."
# query names ride inside the runMain string (separate sbt args would be
# parsed as sbt commands); cpus pinned so regeneration matches the
# committed ledger regardless of the caller's SPARK_GRAFT_CPUS
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.ExplainAudit $*"
git --no-pager diff --stat docs/plans || true
