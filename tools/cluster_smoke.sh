#!/usr/bin/env bash
# Executor-boundary smoke: runs the engine's oracle gate and the CLI across
# REAL executor JVMs (local-cluster master — separate processes launched
# from SPARK_HOME, the standalone-worker path), so closure serialization,
# connector commit messages, broadcasts, and streaming state all cross a
# process boundary instead of staying inside one local[*] JVM.
#
# Covers the round-8 verdict's ask:
#   - q03  (MRJob facade: typed closures over the executor boundary)
#   - q158 (graft-tsv sink-chain: DSV2 commit messages from executor tasks)
#   - q127 BOTH paths (broadcast-adjacency + wedge shuffle fallback)
#   - q127b/q131/q163/q164 (clustering, chunk-stream connector offsets,
#     event-time-timeout eviction, transformWithState — HDFS-backed AND
#     RocksDB state stores living in executor JVMs)
#   - q168/q169 (vector-ingest cycle: bucketed warehouse store written by
#     executor tasks, broadcast-probed from a foreachBatch micro-batch,
#     then the gen1 commit re-bucketed across the boundary)
#   - q173/q174 (transformWithState timers + ListState on RocksDB stores
#     living in executor JVMs) and q176 (fp-keyed self-join matrix)
#   - q178/q181/q185/q192 (native top_k_pairs aggregate partials merged across
#     executors; native l2sq_l codegen + per-round localCheckpoint in the
#     iterative k-center fitter; trained trigram profiles broadcast; the
#     postings store committed bucketed BY EXECUTOR TASKS and read back)
#   - q195/q196/q198 (native cms_agg matrix partials serde-merged across
#     executors; the streaming CMS's (row, cell) counter state store; theta
#     sketch buffers merged across JVMs then intersected pairwise)
#   - q203/q208 (DECIMAL sufficient-statistics partials merged across
#     executors + two committed stores; the star-alternation's per-round
#     localCheckpoint RDDs living on executor block managers)
#   - q213/q215 (dynamic-partition-overwrite refresh and compaction:
#     FileOutputCommitter partition commits from executor tasks, with
#     untouched-file and one-file-per-partition claims re-checked)
#   - q222/q223 (counting-algebra IVM: bucketed gen0/gen1 stores written
#     by executor tasks; the CDC stream's foreachBatch delta log committed
#     across the boundary) and q225/q226 (sparse per-file bloom index
#     bit_or partials merged across executors; the PQ codebook's
#     DECIMAL-mean partials + broadcast ADC distance table)
#   - q229/q236 (star-CC entity clustering and the two-phase skyline:
#     per-round localCheckpoint RDDs + band windows across executor JVMs)
#   - q230/q243 (SkippingIndexRule: the index-build aggregates — per-file
#     min/max and bloom bit_or partials — run in executor tasks, and q243's
#     save/attach round-trips them through the sidecar before pruning)
#   - q288/q290 (copy-on-write MERGE: the zone-map aggregate, the staged
#     rewrite, and the append commit all run in executor tasks; the CDC
#     stream's per-batch merges cross the boundary via foreachBatch)
#   - q301 (snapshot manifests committed beside data files written by
#     executor tasks; three versions read back across the boundary)
#   - q293/q294 (grid radius join's cell shuffle; the JoinReorderRule
#     ANALYZE aggregates run on executors and the reordered plan's
#     broadcasts distribute across JVMs)
#   - CLI built-in + manifest-Main-Class CLIENT JAR (closure classes that
#     exist only in a user jar must deserialize on executors)
#   - q330-q335 (catalog DDL/CTAS inserts, the TIMESTAMP AS OF chain,
#     the streaming toTable epoch writers, the MoR delta writers
#     (per-task tombstone + insert parquet via OutputWriter), and the
#     CALL-procedure compaction rewrite — all executor-task writes
#     published through manifest commits)
# Every query is graded by the SAME DuckDB oracle as the driver gate.
#
# Usage: tools/cluster_smoke.sh   (from the repo root; ~4 min)
set -euo pipefail
cd "$(dirname "$0")/.."

export SPARK_HOME="${SPARK_HOME:-/opt/spark}"
# binary distributions carry no launcher build dirs; the worker's command
# builder needs the scala suffix pinned to find the jars classpath
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
MASTER="${GRAFT_SMOKE_MASTER:-local-cluster[2,2,1024]}"
SF="${GRAFT_SMOKE_SF:-/root/testdata/sf0.01}"
WORK="$(mktemp -d /tmp/graft_cluster_smoke.XXXXXX)"
trap 'rm -rf "$WORK"' EXIT
echo "== cluster smoke: master=$MASTER sf=$SF work=$WORK"

echo "== [1/4] oracle gate over the executor boundary"
SPARK_GRAFT_MASTER="$MASTER" SPARK_GRAFT_CPUS=4 \
SPARK_GRAFT_ONLY=q03_mr_wordcount,q158_sink_chain,q127_triangles,q127b_clustering,q131_chunk_stream,q163_idle_session_evict,q164_typed_state,q168_stream_ann_ingest,q169_ann_store_commit,q173_tws_timers,q174_list_state_lastk,q176_source_overlap,q178_bm25_topk,q181_kcenter_coreset,q185_lang_profile_id,q192_postings_commit,q195_cms_freq,q196_stream_cms,q198_theta_overlap,q203_kmeans_commit,q208_cc_star,q213_partition_refresh,q215_compaction,q216_matview_lifecycle,q217_sink_stream,q222_ivm_delta,q223_stream_ivm,q225_bloom_skip,q226_pq_ann,q229_entity_resolution,q230_zone_rule,q236_skyline,q243_index_attach,q279_ppjoin,q288_cow_merge,q290_stream_cdc_apply,q293_grid_radius,q294_cbo_rule,q301_time_travel,q306_snapshot_skip,q308_snap_merge,q309_sql_merge,q310_snap_skip_rule,q313_matview_rollup,q315_sql_time_travel,q316_cbo_broadcast,q317_snap_schema_evolve,q319_cat_merge,q321_cat_update,q322_cat_time_travel,q323_mor_merge,q324_stream_cdc_snap,q325_snap_partition,q326_matview_rollup_avg,q327_cbo_forest,q247b_rfm_dist,q298b_qnorm_dist,q330_cat_ddl,q331_cat_ctas,q332_cat_timestamp,q333_cat_stream,q334_cat_mor_dml,q335_cat_procedures,q336_cat_stream_read,q337_cat_zorder,q338_cat_partition_insert,q339_cat_days_partition,q340_cat_bucket_partition,q341_cat_zorder3,q342_matview_sketch_cd,q343_cat_rename,q344_cat_spj,q345_cat_meta_count,q346_cat_ts_zones,q347_cat_meta_typed,q348_cat_widen,q349_cat_hours,q350_cat_wap,q351_mor_feed,q352_cat_rollback,q353_cat_orphans,q354_scoped_compact,q355_eq_upsert,q356_cdf_stream \
  sbt -batch "runMain graft.Verify $SF $WORK/verify" >"$WORK/verify.log" 2>&1 \
  || { tail -30 "$WORK/verify.log"; exit 1; }
python3 tools/check.py "$WORK/verify" "$SF" | tail -3

echo "== [2/4] q127 wedge (shuffle-only) path over the executor boundary"
SPARK_GRAFT_MASTER="$MASTER" SPARK_GRAFT_CPUS=4 \
SPARK_GRAFT_CONF='graft.graph.triangleImpl=wedge' \
SPARK_GRAFT_ONLY=q127_triangles \
  sbt -batch "runMain graft.Verify $SF $WORK/verify_wedge" >"$WORK/wedge.log" 2>&1 \
  || { tail -30 "$WORK/wedge.log"; exit 1; }
python3 tools/check.py "$WORK/verify_wedge" "$SF" | tail -3

echo "== [3/4] CLI built-in job (startjob argv contract)"
mkdir -p "$WORK/cli_in"
printf 'hello world hello\nfoo ba r foo\n' > "$WORK/cli_in/input.txt"
SPARK_GRAFT_MASTER="$MASTER" \
  sbt -batch "runMain graft.Driver startjob wordcount - $WORK/cli_in $WORK/cli_wc 3" \
  >"$WORK/cli_wc.log" 2>&1 || { tail -30 "$WORK/cli_wc.log"; exit 1; }
got=$(cat "$WORK"/cli_wc/part-*.tsv | LC_ALL=C sort)
want=$(printf 'ba\t1\nfoo\t2\nhello\t2\nr\t1\nworld\t1')
[ "$got" = "$want" ] || { echo "wordcount mismatch:"; diff <(echo "$want") <(echo "$got"); exit 1; }
echo "wordcount: 5 keys OK"

echo "== [4/4] CLI client jar (manifest Main-Class closure on executors)"
sbt -batch "Test/compile" >"$WORK/testc.log" 2>&1
jar --create --file "$WORK/client.jar" --main-class graft.CharCountJob \
  -C target/scala-2.13/test-classes graft/CharCountJob.class
SPARK_GRAFT_MASTER="$MASTER" \
  sbt -batch "runMain graft.Driver startjob charcount $WORK/client.jar $WORK/cli_in $WORK/cli_cc 3" \
  >"$WORK/cli_cc.log" 2>&1 || { tail -30 "$WORK/cli_cc.log"; exit 1; }
got=$(cat "$WORK"/cli_cc/part-*.tsv)
want=$(awk '{for(i=1;i<=NF;i++)n+=length($i)}END{printf "chars\t%d",n}' "$WORK/cli_in/input.txt")
[ "$got" = "$want" ] || { echo "charcount mismatch: got '$got' want '$want'"; exit 1; }
echo "charcount: $got OK"

echo "== cluster smoke PASSED"
