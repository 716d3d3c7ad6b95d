#!/bin/bash
# Scale-curve measurement chain: times the pair-family query subset with
# graft.Bench on each ScaleUp corpus named on the command line and moves
# each run's partial artifact into <outdir>, so tools/scale_curve.py fits
# a curve from one code version's runs only.
#
# Protocol (SPARK_GRAFT_CPUS=32, 48 g driver, repeat=2 min-of-N):
#   - every run gets a dedicated SPARK_LOCAL_DIRS (/tmp/graft_spill),
#     force-cleaned after it (a killed bench JVM otherwise leaks its
#     blockmgr-* spill dir), and the chain refuses to start a run with
#     < 40 GB free on the filesystem that holds that spill dir;
#   - `set -o pipefail` so a crashed JVM fails the chain; the grep stage is
#     `|| true`d so an empty filter output does not;
#   - the partial must be newer than the run's start marker before it is
#     moved into <outdir> (a dead run must not ship a stale artifact);
#   - each run's stderr goes to <outdir>/<sf><TAG>.log, so gate decisions
#     ([graft] ... arm gate / dup-rate gate / auto-banding) and canary
#     lines are part of the artifact.
#
# Usage: tools/scale_runs.sh <outdir> <sf>...   e.g. scalebench_r17 sf1f sf2f
#   SPARK_GRAFT_SUBSET overrides the query subset; TAG names the
#   log/artifact suffix.
set -eo pipefail
if [ $# -lt 2 ]; then
  echo "usage: $0 <outdir> <sf>..." >&2; exit 2
fi
cd "$(dirname "$0")/.."
OUT=$1; shift
mkdir -p "$OUT"
SUBSET=${SPARK_GRAFT_SUBSET:-q_chunk_containment,q_dedup_cluster_sizes,q_dedup_containment,q_dedup_containment_lsh,q_dedup_corpus,q_dedup_embedding,q_dedup_embedding_lsh,q_dedup_keep_best,q_dedup_minhash,q_dedup_ngram_jaccard,q_dedup_simhash,q_edit_join,q_ingest_dedup,q_knn_join_ivf,q_lsh_sweep_sampled,q_minhash_eval_sampled,q_paragraph_dedup,q_semdedup,q_simhash_eval_sampled,q_split_leakage_safe,q_substring_dedup,q_winnow_pairs,q_ann_ivf,q_kmeans_train,q_containment_lsh_eval_sampled}
SPILL=/tmp/graft_spill
TAG=${TAG:-}
for sf in "$@"; do
  free_gb=$(df --output=avail -BG "$(dirname "$SPILL")" | tail -1 | tr -dc 0-9)
  if [ "$free_gb" -lt 40 ]; then
    echo "ABORT before $sf: only ${free_gb}G free on spill fs (< 40G)" >&2
    exit 1
  fi
  echo "=== $sf$TAG (${free_gb}G free) ==="
  rm -rf "$SPILL"; mkdir -p "$SPILL"
  marker=$(mktemp /tmp/graft_scale_start.XXXXXX)
  SPARK_LOCAL_DIRS=$SPILL SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
    SPARK_GRAFT_ONLY=$SUBSET \
    SPARK_GRAFT_SF_DIR=$PWD/scaledata/$sf \
    sbt -batch "runMain graft.Bench" \
    2> >(tee "$OUT/${sf}${TAG}.log" >&2) \
    | { grep -E '\[bench\]|\[graft\]|"metric"' || true; } | tail -40
  rm -rf "$SPILL"
  partial=BENCH_FULL_${sf}_partial.json
  if [ ! "$partial" -nt "$marker" ]; then
    echo "ABORT after $sf: $partial is stale (older than run start)" >&2
    rm -f "$marker"; exit 1
  fi
  rm -f "$marker"
  mv "$partial" "$OUT/BENCH_FULL_${sf}${TAG}_partial.json"
done
echo "=== CHAIN DONE ==="
