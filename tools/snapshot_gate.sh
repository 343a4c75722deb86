#!/usr/bin/env bash
# Snapshot gate (round-16 postmortem): the end-of-round commit itself
# must build and pass a spot verify BEFORE it is made. Round 16's final
# commit referenced a helper that was never written — `sbt compile`
# failed at HEAD and the driver's correctness/bench artifacts for the
# whole round came back empty. This script makes that class of failure
# structurally impossible: run it from the repo root with the tree in
# exactly the state you are about to commit; a non-zero exit means DO
# NOT COMMIT.
#
# Usage: tools/snapshot_gate.sh [sfDir]        (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.001}"

echo "[gate] 0/3 one session factory"
STRAY="$(grep -rl 'SparkSession.builder' src/ |
  grep -vx 'src/main/scala/graft/GraftSession.scala' || true)"
if [ -n "$STRAY" ]; then
  echo "$STRAY"
  echo "[gate] FAIL: SparkSession.builder outside GraftSession.scala" \
    "(get sessions from GraftSession.local)"
  exit 1
fi

echo "[gate] 0b/3 one sha256-prefix hash kernel"
HEXPARSE="$(grep -rnE 'sha256Hex\(.*\)\.substring\(' src/main || true)"
if [ -n "$HEXPARSE" ]; then
  echo "$HEXPARSE"
  echo "[gate] FAIL: hex-parsed sha256 prefix under src/main" \
    "(use TextUtil.sha256Prefix)"
  exit 1
fi

echo "[gate] 0c/3 one staged-replay protocol"
REPLAY="$(grep -rnE 'setLastModified\(|"maxFilesPerTrigger"' src/main |
  grep -v '^src/main/scala/graft/streaming/Replay.scala:' || true)"
if [ -n "$REPLAY" ]; then
  echo "$REPLAY"
  echo "[gate] FAIL: replay-order stamp or file-per-trigger read outside" \
    "Replay.scala (use Replay.stamp / Replay.read)"
  exit 1
fi

echo "[gate] 0d/3 one row registry"
HANDMAP="$(grep -rnE 'Map\[String, Q\]\(|oracleSql[^=]*= *Map\(|protocolRows|engineUnderGuard' \
  src/main || true)"
if [ -n "$HANDMAP" ]; then
  echo "$HANDMAP"
  echo "[gate] FAIL: hand-written row map or row-name list under src/main" \
    "(declare each row once as a QuerySpec; SparkEntry derives the maps)"
  exit 1
fi

echo "[gate] 0e/3 one stage cache"
PROPREAD="$(grep -rn 'sys.props.get(' src/main |
  grep -vE '^src/main/scala/graft/(streaming/StageCache|Bench)\.scala:' || true)"
if [ -n "$PROPREAD" ]; then
  echo "$PROPREAD"
  echo "[gate] FAIL: system-property read outside StageCache.scala and" \
    "Bench.scala (stage cached inputs through StageCache)"
  exit 1
fi

echo "[gate] 0f/3 one scratch owner"
SCRATCH="$(grep -rnE 'createTempDirectory|addShutdownHook' src/main src/test |
  grep -vE '^src/(main/scala/graft/Scratch|test/scala/graft/SparkSuite)\.scala:' ||
  true)"
if [ -n "$SCRATCH" ]; then
  echo "$SCRATCH"
  echo "[gate] FAIL: temp dir or shutdown hook outside Scratch.scala and" \
    "SparkSuite.scala (use Scratch.within / Scratch.held, or tempDir in tests)"
  exit 1
fi

echo "[gate] 1/3 sbt compile + Test/compile"
sbt -batch ";compile;Test/compile" >/tmp/gate_compile.log 2>&1 || {
  tail -30 /tmp/gate_compile.log; echo "[gate] FAIL: compile"; exit 1; }

echo "[gate] 1b/3 retrieval, sync and dedup job budgets, resident store pages"
sbt -batch "testOnly graft.RetrievalBudgetSpec graft.SyncBudgetSpec graft.DedupBudgetSpec graft.StorePageSpec" \
  >/tmp/gate_budget.log 2>&1 || {
  tail -30 /tmp/gate_budget.log
  echo "[gate] FAIL: a probe, a page lookup, a table load, the sync flag" \
    "read, an incremental syncRun/codeRun or keepBest gained a Spark job," \
    "or a resident store page differs from the Spark plan"; exit 1; }

OUT="$(mktemp -d /tmp/gate_verify.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT
echo "[gate] 2/3 spot Verify at $SF_DIR -> $OUT"
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF_DIR $OUT" \
  >/tmp/gate_verify.log 2>&1 || {
  tail -30 /tmp/gate_verify.log; echo "[gate] FAIL: Verify run"; exit 1; }

echo "[gate] 3/3 DuckDB compare"
python3 tools/compare.py "$SF_DIR" "$OUT" || {
  echo "[gate] FAIL: oracle compare"; exit 1; }

echo "[gate] PASS — safe to commit"
