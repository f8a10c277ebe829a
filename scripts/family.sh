#!/bin/bash
# One query family's checks, for a change that touches one family:
#
#   scripts/family.sh <family> <sfDir>
#
# <family> is a key of graft.SparkEntry.families (relational ops events
# streaming dedup similarity text graph rec quality pipeline multimodal);
# <sfDir> is the sf0.01 fixture directory the oracles read
# (graft.Tables.verifySfDir). Three steps, in one sbt run and then python:
#   1. the family's specs: the spec classes that test only this family, and
#      the tests tagged with the family (graft.Family) in the specs that mix
#      families;
#   2. graft.Verify at <sfDir>, filtered to the family;
#   3. scripts/check.py on that dump (DuckDB oracle compare).
# Exits non-zero when any step fails. The full `sbt test` stays the gate.
set -euo pipefail
cd "$(dirname "$0")/.."
fam="${1:?usage: scripts/family.sh <family> <sfDir>}"
sf="${2:?usage: scripts/family.sh <family> <sfDir>}"

case "$fam" in
  relational) specs="ZOrderSpec ZOrderLayoutSpec BloomFilterJoinSpec BucketingSpec
    BucketedJoinSpec BucketJoinSpec AqeSkewJoinSpec SkewSpec ApproxAccuracySpec
    CmsMergeSpec SqlKernelRegistrationSpec" ;;
  ops) specs="CompareSpec PropertySpecs FormatsSpec InputResolverSpec AvroSpec
    SchemaOpSpec ConvertSpec ParquetMetaSpec InformationSchemaSpec SchemaDiffSpec
    CliExtensionSpec CliUsageSpec CompactSpec CompactPartitionedSpec
    DescribeQuotingSpec" ;;
  events) specs="AsOfJoinSpec AsOfVariantsSpec RangeJoinSpec" ;;
  streaming) specs="StreamingSpec StreamingIncrementalDedupSpec WatermarkSpec
    StreamSourceSpec StreamingSinkSpec StreamingRecoverySpec
    RocksDbStateStoreSpec StreamCheckpointFilesSpec" ;;
  dedup) specs="MinHashLshSpec MinHashAggSpec SkewSaltingSpec SimHashSpec
    Md5PairSpec IncrementalDedupSpec IncrementalBloomSpec DedupClustersSpec
    WinnowFpsSpec WinnowGuaranteeSpec ContainmentSpec" ;;
  similarity) specs="SimilaritySpec SqDistSpec EmbedQuantizeZeroVectorSpec
    StoredIndexPruningSpec" ;;
  text) specs="RollingHashSpec LineDedupReassemblySpec CurateSpec" ;;
  quality) specs="DriftDetectionSpec ExpectationGateSpec" ;;
  pipeline) specs="HeavyHittersSpec" ;;
  multimodal) specs="MultimodalSpec" ;;
  graph | rec) specs="" ;;
  *) echo "unknown family: $fam" >&2; exit 2 ;;
esac
mixed="PlanSpec EvalOpsSpec R7OpsSpec R8OpsSpec R9OpsSpec R10OpsSpec R11OpsSpec
  R12OpsSpec R13OpsSpec"

qualify() { for s in $1; do printf 'graft.%s ' "$s"; done; }
out="$(mktemp -d)"
trap 'rm -rf "$out"' EXIT
steps=()
[ -n "$specs" ] && steps+=("testOnly $(qualify "$specs")")
steps+=("testOnly $(qualify "$mixed")-- -n family.$fam"
  "runMain graft.Verify $sf $out/verify $fam")
echo "[family] $fam: ${steps[*]}" >&2
sbt -batch "${steps[@]}"
python3 scripts/check.py "$sf" "$out/verify"
echo "[family] $fam OK" >&2
