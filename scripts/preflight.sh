#!/bin/bash
# End-of-round preflight gate (VERDICT r8 ask #3): never snapshot a tree
# that doesn't compile or that plans a banned shape. Run this before ANY
# round-ending commit, and after every edit that adds a `Declared`.
#
#   scripts/preflight.sh          # compile (main+test) + PlanAuditSpec +
#                                 # DeclaredUsesSpec + SharedArtifactSpec +
#                                 # InputResolverSpec (~5 min), then the
#                                 # probe-index and copied-code checks
#   scripts/preflight.sh --full   # full `sbt test` instead of the audit only
#
# Exit 0 = safe to snapshot. Anything else = fix before committing.
set -euo pipefail
cd "$(dirname "$0")/.."
# sbt commands as an ARRAY — the earlier single-string form word-split
# 'testOnly graft.PlanAuditSpec' into tokens with literal quote chars,
# which sbt 1.10 refuses to parse, so the gate failed on every default run
# DeclaredUsesSpec runs every shared-artifact consumer and fails when one
# reads an artifact its `Declared.uses` does not list; SharedArtifactSpec
# pins the compute-once policy, on-disk readiness re-probe included;
# InputResolverSpec pins the one schema cache: a hit infers nothing and
# reads the same rows, a moved input re-resolves, sessions share nothing
TARGET=(Test/compile 'testOnly graft.PlanAuditSpec graft.DeclaredUsesSpec graft.SharedArtifactSpec graft.InputResolverSpec')
[ "${1:-}" = "--full" ] && TARGET=(test)
echo "[preflight] sbt compile + ${TARGET[*]}" >&2
sbt -batch compile "${TARGET[@]}"
# INDEX drift: every probes/r*/ capture must be represented in INDEX.md
python3 scripts/probe_index.py --check
# copied code in src/main (scripts/dupscan.py: 6-line windows found in 2+
# places) may not grow; whoever folds more copies lowers DUP_MAX to the new
# total
DUP_MAX=52
python3 scripts/dupscan.py --max "$DUP_MAX" | tail -2
echo "[preflight] OK — tree is snapshot-safe" >&2
