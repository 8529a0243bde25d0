#!/usr/bin/env bash
# Full round validation: unit+property tests, DuckDB oracle gate at two
# scale factors, reference byte-parity, flagship smoke, sf0.1 bench.
set -euo pipefail
cd /root/repo

echo "== sbt test =="
sbt -batch test | grep -E 'Tests:|FAILED'

echo "== oracle gate sf0.001 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/check_v1" > /dev/null 2>&1
python3 tools/oracle_check.py /root/testdata/sf0.001 /tmp/check_v1

echo "== oracle gate sf0.01 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/check_v2" > /dev/null 2>&1
python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/check_v2

echo "== reference byte-parity =="
python3 tools/make_parity_fixtures.py
python3 tools/ref_golden.py /tmp/graft_parity/logs /tmp/graft_parity/ref.csv > /dev/null 2>&1
sbt -batch "runMain graft.ParityDump /tmp/graft_parity/logs /tmp/graft_parity/spark.csv" > /dev/null 2>&1
python3 tools/parity_check.py

echo "== dev tools =="
# the debug runner (default: q6_parse at sf0.001) and the plan audit on
# one query: a broken session factory or a broken ExplainAudit fails here
sbt -batch "runMain graft.DebugOne" 2>&1 | grep -E '^OK q6_parse rows=[0-9]+'
sbt -batch "runMain graft.cli.ExplainAudit q6_parse" 2>&1 | grep -E '^q6_parse +exchanges='

echo "== flagship smoke =="
sbt -batch "runMain graft.SmokeEntry" 2>&1 | grep -oE 'ENTRY ROWS = [0-9]+'

echo "== bench sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -o '{"metric".*' | tail -1
