#!/bin/bash
# Round-10 sf100 measurement block (VERDICT r9 ask #5), run
# back-to-back in ONE window so graft and DuckDB see the same machine.
# Only quote numbers captured at loadavg < 2 (ROUND_NOTES protocol).
cd "$(dirname "$0")/.." || exit 1
date; uptime

# Ask #5: widen the sf100 cross-engine ledger with the shapes DuckDB
# is strongest at (window rank, percentile, count-distinct, string_agg).
SPARK_GRAFT_SKIP_BUCKETED=1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_HEADLINE=q16_count_distinct,q20_window_rank,q27_percentile,q34_string_agg \
  sbt -batch "runMain graft.ScaleBench target/sf100 3" 2>&1 | grep '"bench"'
python3 tools/bench_duckdb.py target/sf100 /tmp/verify_out/oracle_sql.json 3 \
  q16_count_distinct,q20_window_rank,q27_percentile,q34_string_agg,q6_count_star
date; uptime
