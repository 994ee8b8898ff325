#!/usr/bin/env bash
# End-of-round measurement chain — ONE sequential quiet-box run (the
# §9.11/§9.12 artifact-coherence rule). Adjust the re-strike lists to
# what the round actually changes before running.
#
#   scripts/strike_chain.sh <round>      # e.g. scripts/strike_chain.sh r17
#
# The round tag names the temp directory (/tmp/strike_<round>) that
# holds every intermediate strike, so two rounds' leftovers never mix.
# bench.sh hands the quiet-guard's pre-launch loadavg to graft.Bench
# (SPARK_GRAFT_BENCH_GUARD_LOAD), so a guarded strike whose own start
# sample lands in the sbt launch spike still stamps quiet:true with the
# guard reading recorded; promote_artifact.sh refuses any strike that
# did not stamp quiet:true. The clean_serve budget probe reports
# appends_wall_sec for the concurrent append barrier.
#
# Assumes target/scale_x10 and target/scale_x64 exist
# (graft.ScaleUp /root/testdata/sf0.1 target/scale_xN N).
ROUND="${1:?usage: scripts/strike_chain.sh <round>}"
set -ux
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS=32
export SPARK_DRIVER_MEM=24g
log() { echo "=== [$(date +%H:%M:%S)] $*" >&2; }
T=/tmp/strike_$ROUND
mkdir -p "$T"

log "0. fresh full Verify at sf0.01 + self-struck correctness artifact"
rm -rf "$T/verify"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $T/verify" 1>&2
python3 scripts/selfcheck.py /root/testdata/sf0.01 "$T/verify" \
  CORRECTNESS_self.json | tail -3

log "1. full ScalaTest suite"
sbt -batch test 1>&2 || log "SUITE FAILED — inspect before committing artifacts"

log "2. clean_serve stage budget"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.queries.CleanServeProbe" 2>/dev/null \
  | grep '"metric":"clean_serve_budget"' > "$T/csb.json" \
  && [ -s "$T/csb.json" ] && cp "$T/csb.json" CLEAN_SERVE_BUDGET.json \
  || log "CleanServeProbe failed (artifact untouched)"

X64_FAMILY="d_exact_dedup,ann_pq,ann_ivf_pq,ann_ivf_pqr,ann_pq_w8,ann_ivf_pq_w8,ann_pq_opq,d_minhash_lsh,d_incr_neardup,d_incr_indexed,d_embed_incr_indexed,d_simhash,d_simhash_pairs,d_embed_lsh_pairs,d_embed_lsh_multiprobe,d_neardup_clusters,d_embed_clusters,d_cluster_keep_best,v_quantize,ann_bruteforce,ann_ivf,ann_lsh,ann_sq8,ann_ivf_sq8,ann_ivf_retrain,ann_ivf_fitstats,t_span_dedup,pipe_corpus_clean,pipe_incr_clean,pipe_incr_clean_embed,pipe_incr_evolve,pipe_incr_evolve_embed,pipe_incr_evolve_serve,pipe_incr_clean_serve"

log "4a. x64 dedup/ANN family strike 1 (quiet-guarded, bounded wait)"
SPARK_GRAFT_SF_DIR=target/scale_x64 SPARK_GRAFT_BENCH_ONLY="$X64_FAMILY" \
  SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 SPARK_GRAFT_BENCH_WAIT_QUIET=600 \
  scripts/bench.sh > "$T/x64_strike1.json" 2>/dev/null || true
scripts/promote_artifact.sh scale_x64 BENCH_x64_dedup.json || true

log "4b. x64 family strike 2 (cross-strike envelope)"
SPARK_GRAFT_SF_DIR=target/scale_x64 SPARK_GRAFT_BENCH_ONLY="$X64_FAMILY" \
  SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 SPARK_GRAFT_BENCH_WAIT_QUIET=600 \
  scripts/bench.sh > "$T/x64_strike2.json" 2>/dev/null || true
scripts/promote_artifact.sh scale_x64 BENCH_x64_dedup_strike2.json || true

log "5. x10 full suite (skip contract: O(n^2)-class verifiers)"
SPARK_GRAFT_SF_DIR=target/scale_x10 \
  SPARK_GRAFT_BENCH_SKIP=d_ngram_jaccard,d_embed_neardup,d_embed_neardup_ivf \
  SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 SPARK_GRAFT_BENCH_WAIT_QUIET=600 \
  scripts/bench.sh > "$T/x10.json" 2>/dev/null || true
scripts/promote_artifact.sh scale_x10 BENCH_sf1.json || true

log "5b. x10 8-core strike of the data-bound top rows (r15 VERDICT #6:"
log "    the sf0.1 scaling block is job-floor-bound and uninformative;"
log "    at x10 the low-core/high-core ratio measures real parallelism)"
X10_TOP="pipe_incr_clean_serve,pipe_incr_evolve_embed,pipe_incr_evolve,pipe_incr_evolve_serve,d_cluster_keep_best,d_neardup_clusters,d_minhash_lsh,d_incr_neardup,pipe_corpus_clean,ann_ivf_retrain,t_contamination,q1_pricing_summary"
SPARK_GRAFT_SF_DIR=target/scale_x10 SPARK_GRAFT_CPUS=8 \
  SPARK_GRAFT_BENCH_ONLY="$X10_TOP" \
  SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 SPARK_GRAFT_BENCH_WAIT_QUIET=600 \
  SPARK_GRAFT_BENCH_OUT="$T/x10_c8.json" scripts/bench.sh > /dev/null 2>&1 || true
scripts/promote_artifact.sh scale_x10 BENCH_x10_c8.json "$T/x10_c8.json" || true
export SPARK_GRAFT_CPUS=32

log "6. final quiet-guarded sf0.1 full strike"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 SPARK_GRAFT_BENCH_WAIT_QUIET=900 \
  scripts/bench.sh > "$T/sf01.json" 2>/dev/null || true

log "6b. sibling re-strike of the pipeline family; promotion refuses a >2x outlier"
log "    (r15 'what's wrong' #1: the committed BENCH_LOCAL.json was the 36.9s"
log "    evolve_serve outlier run and nothing refused it)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_ONLY="pipe_incr_clean_serve,pipe_incr_evolve,pipe_incr_evolve_embed,pipe_incr_evolve_serve,pipe_incr_clean,pipe_incr_clean_embed,d_cluster_keep_best,d_neardup_clusters" \
  SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 SPARK_GRAFT_BENCH_WAIT_QUIET=600 \
  SPARK_GRAFT_BENCH_OUT="$T/sf01_sibling.json" scripts/bench.sh > /dev/null 2>&1 || true
PROMOTE_SIBLING="$T/sf01_sibling.json" \
  scripts/promote_artifact.sh testdata/sf0.1 BENCH_LOCAL.json || true

log "chain complete — review artifacts, then commit"
