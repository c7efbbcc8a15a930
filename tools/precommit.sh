#!/bin/sh
# Compile gate (round-4 lesson: never commit a snapshot that does not
# compile), plus a read check of the measurement records: a staged
# BENCH_FULL_*.json or PLAN_GAUGE.json must still read through the
# typed readers, so a hand edit that breaks one is caught here rather
# than at the next bench or audit run. A staged change to the corpus
# manager or the dedup pipeline runs the shard-ingest cost fence (its
# job and SQL-execution bounds, artifact parity and failed-append
# checks). Install with:
#   ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
# Skips the sbt startup when nothing it checks is staged.
staged=$(git diff --cached --name-only)
if echo "$staged" | grep -q '\.scala$'; then
  echo "[pre-commit] staged .scala files -> sbt Test/compile"
  sbt -batch "Test/compile" >/tmp/precommit_compile.log 2>&1 || {
    echo "[pre-commit] COMPILE FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_compile.log
    exit 1
  }
fi
if echo "$staged" | grep -q -E '(^|/)(BENCH_FULL_.*\.json|PLAN_GAUGE\.json)$'; then
  echo "[pre-commit] staged bench/gauge records -> record read specs"
  sbt -batch "testOnly graft.BenchParseSpec graft.PlanGaugeFenceSpec" \
      >/tmp/precommit_records.log 2>&1 || {
    echo "[pre-commit] RECORD CHECK FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_records.log
    exit 1
  }
fi
if echo "$staged" | grep -q -E '(^|/)(etl/CorpusManager|functions/Dedup[^/]*)\.scala$'; then
  echo "[pre-commit] staged corpus/dedup code -> shard-ingest cost fence"
  sbt -batch "testOnly graft.etl.ShardIngestCostFenceSpec" \
      >/tmp/precommit_fence.log 2>&1 || {
    echo "[pre-commit] SHARD-INGEST FENCE FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_fence.log
    exit 1
  }
fi
exit 0
