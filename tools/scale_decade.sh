#!/bin/bash
# One-session scale-decade bench: generates target/sf{1,3,10} from the
# driver's sf0.1 (documents/embeddings via graft.ScaleUp; relational
# tables symlinked so q01 stays a FIXED-SIZE window control across all
# scale points), then runs the focused byte-linear battery at each
# point back-to-back. Artifacts: BENCH_SCALE_sf{1,3,10}_r18 detail +
# full JSONs in the repo root.
#
# Usage: tools/scale_decade.sh [skip-gen]
set -euo pipefail
cd "$(dirname "$0")/.."

SRC=/root/testdata/sf0.1
QUERIES=q01_pricing_summary,q36_dedup_minhash_lsh,q37_dedup_jaccard_verify,q77_dedup_clusters,q102_incremental_dedup,q122_shared_span_pairs,q128_shared_span_capped

if [[ "${1:-}" != "skip-gen" ]]; then
  for kf in "sf1 10" "sf3 30" "sf10 100"; do
    set -- $kf
    out=target/$1; k=$2
    SPARK_GRAFT_CPUS=24 sbt -batch "runMain graft.ScaleUp $SRC $out $k" | grep '"scaled"'
    for t in region nation customer supplier part orders lineitem events; do
      ln -sf $SRC/$t.parquet $out/$t.parquet
    done
  done
fi

for sf in sf1 sf3 sf10; do
  echo "=== bench $sf ==="
  SPARK_DRIVER_MEM=64g \
  SPARK_GRAFT_SF_DIR=target/$sf \
  SPARK_GRAFT_ONLY=$QUERIES \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -E '^\{|"metric"' | tail -2
  mv BENCH_DETAIL_ONLY.json BENCH_SCALE_${sf}_r18_detail.json
  mv BENCH_FULL_ONLY.json BENCH_SCALE_${sf}_r18.json
done
