#!/bin/sh
# Compile gate (round-4 lesson: never commit a snapshot that does not
# compile), plus a read check of the measurement records: a staged
# BENCH_FULL_*.json or PLAN_GAUGE.json must still read through the
# typed readers, so a hand edit that breaks one is caught here rather
# than at the next bench or audit run. A staged change to the corpus
# manager, the dedup pipeline or the concurrency helper runs the
# shard-ingest cost fence (its job and SQL-execution bounds, artifact
# parity and failed-append checks); a staged corpus manager also runs
# the corpus-manager and media-dedup specs, which drive its artifact
# registry through compaction, the migrations and vacuum. A staged
# change to the snapshot-manifest protocol (the snapshot log, the
# gridded store, its manifest and descriptor, encoding surgery, the
# manifest envelope, the commit primitives) or to the grid catalog
# runs the append cost fence, the commit-protocol spec, the
# manifest-extent spec, the grid-catalog spec and the shard-ingest
# cost fence: both versioned stores commit through that code. A
# staged change to the dataset manager, the quality checks or the
# update profile runs the append cost fence, the post-parse read-back
# spec and the parse parity spec: parse pins, profiles, samples and
# reads back its update through that code. A staged change to the job
# recorder (graft/obs/) or to the probe main runs the probe spec and
# the three fences that price by counting Spark jobs: the append cost
# fence, the shard-ingest cost fence and the signature-spread spec. A
# staged session factory (GraftSession.scala, which sizes Spark's
# codegen cache) runs the three fences that count recompiled classes:
# the append cost fence, the shard-ingest cost fence and the probe spec.
# Install with:
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
if echo "$staged" | grep -q -E '(^|/)(etl/CorpusManager|functions/Dedup[^/]*|operators/Concurrent)\.scala$'; then
  specs="graft.etl.ShardIngestCostFenceSpec"
  if echo "$staged" | grep -q -E '(^|/)etl/CorpusManager\.scala$'; then
    specs="$specs graft.etl.CorpusManagerSpec graft.etl.MediaDedupSpec"
  fi
  echo "[pre-commit] staged corpus/dedup code -> $specs"
  sbt -batch "testOnly $specs" \
      >/tmp/precommit_fence.log 2>&1 || {
    echo "[pre-commit] CORPUS/DEDUP SPECS FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_fence.log
    exit 1
  }
fi
if echo "$staged" | grep -q -E '(^|/)(sources/(SnapshotLog|GriddedStore|GridManifest|EncodingSurgery|ManifestIO|CommitProtocol)|model/DatasetDescriptor|catalog/GridCatalog)\.scala$'; then
  echo "[pre-commit] staged snapshot-log code -> append, commit-protocol, extent, catalog and shard-ingest specs"
  sbt -batch "testOnly graft.etl.AppendCostFenceSpec graft.sources.CommitProtocolSpec graft.sources.ManifestExtentSpec graft.catalog.GridCatalogSpec graft.etl.ShardIngestCostFenceSpec" \
      >/tmp/precommit_log.log 2>&1 || {
    echo "[pre-commit] SNAPSHOT-LOG FENCES FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_log.log
    exit 1
  }
fi
if echo "$staged" | grep -q -E '(^|/)(etl/DatasetManager|qc/QualityChecks|sources/UpdateProfile)\.scala$'; then
  echo "[pre-commit] staged parse/QC code -> append fence, read-back and parse parity specs"
  sbt -batch "testOnly graft.etl.AppendCostFenceSpec graft.etl.PostParseQcSpec graft.etl.ParseProfileSpec" \
      >/tmp/precommit_parse.log 2>&1 || {
    echo "[pre-commit] PARSE FENCES FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_parse.log
    exit 1
  }
fi
if echo "$staged" | grep -q -E '(^|/)graft/(obs/.*|Probe\.scala)$'; then
  echo "[pre-commit] staged job recorder -> probe spec and job-count fences"
  sbt -batch "testOnly graft.ProbeSpec graft.etl.AppendCostFenceSpec graft.etl.ShardIngestCostFenceSpec graft.functions.SignatureSpreadSpec" \
      >/tmp/precommit_obs.log 2>&1 || {
    echo "[pre-commit] JOB-RECORDER FENCES FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_obs.log
    exit 1
  }
fi
if echo "$staged" | grep -q -E '(^|/)graft/GraftSession\.scala$'; then
  echo "[pre-commit] staged session factory -> compile-counting fences"
  sbt -batch "testOnly graft.etl.AppendCostFenceSpec graft.etl.ShardIngestCostFenceSpec graft.ProbeSpec" \
      >/tmp/precommit_session.log 2>&1 || {
    echo "[pre-commit] COMPILE-COUNT FENCES FAILED - commit blocked. tail of log:"
    tail -20 /tmp/precommit_session.log
    exit 1
  }
fi
exit 0
