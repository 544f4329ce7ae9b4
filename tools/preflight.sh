#!/usr/bin/env bash
# Pre-commit check: build the benchmark (perfbench/) against the
# program, replay the committed bench verdict (BenchBaseSpec), then
# execute EVERY declared SparkEntry query once at
# sf0.001 in strict mode and compare every result with the DuckDB
# oracle (tools/check_oracle.py). A program name the benchmark uses
# going missing, any query throw, fixture-contract violation or oracle
# mismatch fails this script — run it before committing (round 8: a
# silent fixture-schema drift zeroed 31 queries; this catches that
# class of failure in one named place).
#
# Usage: tools/preflight.sh [sfDir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
OUT="$(mktemp -d /tmp/graft_preflight.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT
# perfbench compiles against the program's runtime classpath, exported
# the way perfbench/run.py exports it (the last line of jar paths)
CP="$(sbt -batch -Dsbt.log.noformat=true compile "export Runtime/fullClasspath" | grep -v '^\[' | grep '\.jar' | tail -1)"
(cd perfbench && PERFBENCH_PROGRAM_CP="$CP" sbt -batch compile)
# the bench adjudication: the committed BENCH_DETAIL.json must replay to
# its recorded verdict (no Spark session needed)
sbt -batch "testOnly graft.BenchBaseSpec"
SPARK_GRAFT_STRICT=1 sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/check_oracle.py "$SF" "$OUT"
echo "preflight OK: all declared queries executed and match the oracle at $SF"
