#!/usr/bin/env bash
# All three gates in one shot (what the driver effectively runs):
#   1. pytest suite          2. oracle gate (engine + plain sessions)
#   3. bench JSON line
#
# r10 (VERDICT r9 item 6, identical coverage, ~70 -> ~45 min):
# - pytest runs as 4 concurrent 8-core shards (tools/pytest_shards.sh,
#   whole-file sharding; measured 9m15 vs 19-20m single-process)
# - the two oracle gates share one JVM (check_oracle.py --both: engine
#   pass, SparkContext restart, plain pass on the warmed JIT; measured
#   9m05 vs ~20m as two cold invocations)
# - the fleet bench still runs alone on an idle machine (it is the only
#   stage that MEASURES; gates only check)
# --deep (VERDICT r10 item 4): once per round, BEFORE the closing fleet,
# run the two gates that operate at sf10 — the full-registry oracle sweep
# (the only gate that has ever caught a quadratic knob: sim_neardup_lsh,
# BENCH_NOTES r10 §10; setsim routes to the zipf corpus via bench_corpus
# so the only remaining skips are the 3 O(n²) validation baselines) and
# the two-decade scaling profile.  Artifacts: ORACLE_SWEEP_SF10_deep.log +
# DECADE_deep.jsonl (rename per round when recording).  The oracle gate
# session already carries the 8g maxResultSize gate fix.
set -e
set -o pipefail  # ADVICE r11: without this the `| tee` below eats a failing
                 # deep-gate exit status and the gate can never abort the run
cd "$(dirname "$0")/.."
if [[ "${1:-}" == "--deep" ]]; then
  echo "== deep: sf10 full-registry oracle sweep (zipf-routed) =="
  t0=$SECONDS
  python tools/check_oracle.py /root/repo/testdata_sf10/sf10 --ulp=2 \
    --skip-capped --zipf-dir=/root/repo/testdata_sf10_zipf/sf10 \
    2>&1 | tee ORACLE_SWEEP_SF10_deep.log
  echo "deep sweep wall: $((SECONDS - t0))s" | tee -a ORACLE_SWEEP_SF10_deep.log
  echo "== deep: two-decade scaling profile (sf1 + sf10) =="
  SPARK_GRAFT_DRIVER_MEM=48g python tools/query_profile.py \
    --sf testdata_sf1/sf1 --sf testdata_sf10/sf10 \
    q1_pricing_summary q3_top_unshipped_orders q5_region_revenue \
    window_cumsum resample_hourly sessionize_10m asof_backward \
    dedup_exact_groups dedup_minhash_clusters text_quality \
    sim_topk_bruteforce rollup_cascade_daily interpolate_time_linear \
    text_chunk_windows text_tfidf_top_terms > DECADE_deep.jsonl
  shift
fi
echo "== never-checked guard =="
python tools/check_never_checked.py
echo "== doc-count guard =="
python tools/check_doc_counts.py
echo "== pytest (4 sharded JVMs) =="
bash tools/pytest_shards.sh 4 8
echo "== oracle (engine + plain sessions, one JVM) =="
python tools/check_oracle.py /root/testdata/sf0.01 --both
echo "== bench (3-pass fresh-JVM fleet; VERDICT r8 item 7) =="
python tools/bench_fleet.py 3 BENCH_local_fleet.json
