#!/usr/bin/env bash
# Full local replica of the driver's per-round gate, one command:
#   artifact root guard -> query lifecycle guard -> lake lifecycle guard -> aggregate plumbing guard -> schema inference guard -> session definition guard -> row seam guard -> compile -> unit specs -> Verify@sf0.01 -> DuckDB oracle -> Bench@sf0.1
# Usage: scripts/gate.sh [--no-bench]
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== artifact root guard =="
# every persisted artifact lives under the store's one root
stray=$(grep -rln 'java.io.tmpdir' src/main \
  | grep -vx 'src/main/scala/graft/operators/Artifacts.scala' || true)
if [[ -n "$stray" ]]; then
  echo "java.io.tmpdir outside graft.operators.Artifacts:" >&2
  echo "$stray" >&2
  exit 1
fi

echo "== query lifecycle guard =="
# per-query cleanup and work counting live in the one harness
stray=$(grep -rlE 'catalog\.clearCache|getPersistentRDDs|addSparkListener' src/main \
  | grep -vx 'src/main/scala/graft/QueryRun.scala' || true)
if [[ -n "$stray" ]]; then
  echo "query lifecycle code outside graft.QueryRun:" >&2
  echo "$stray" >&2
  exit 1
fi

echo "== lake lifecycle guard =="
# one streaming sink in the library, one partition-scoped fold commit
# in StreamRunner
sinks=$(grep -roF '.writeStream' src/main | wc -l)
if [[ "$sinks" -gt 1 ]]; then
  echo ".writeStream appears $sinks times in src/main (one sink allowed):" >&2
  grep -rnF '.writeStream' src/main >&2
  exit 1
fi
manifests=$(grep -oF 'manifestMeta(' src/main/scala/graft/streaming/StreamRunner.scala | wc -l)
if [[ "$manifests" -gt 1 ]]; then
  echo "manifestMeta( appears $manifests times in StreamRunner.scala (one fold allowed):" >&2
  grep -nF 'manifestMeta(' src/main/scala/graft/streaming/StreamRunner.scala >&2
  exit 1
fi

echo "== aggregate plumbing guard =="
# one Catalyst aggregate class (graft.plans.SketchAggregate) owns the
# TypedImperativeAggregate plumbing; sketch families supply only buffers
for pat in 'extends TypedImperativeAggregate' 'withNewMutableAggBufferOffset'; do
  n=$(grep -roF "$pat" src/main | wc -l)
  if [[ "$n" -gt 1 ]]; then
    echo "$pat appears $n times in src/main (one aggregate class allowed):" >&2
    grep -rnF "$pat" src/main >&2
    exit 1
  fi
done

echo "== schema inference guard =="
# every parquet read goes through graft.sources.ParquetSource, whose format
# reads the one footer Spark's inference would pick on the driver instead
# of in a one-task Spark job
stray=$(grep -rnE 'read\.parquet\(|format\("parquet"\)|read\.format\(format\)' src/main \
  | grep -vE '^src/main/scala/(graft/sources/ParquetSource|org/apache/spark/sql/execution/datasources/parquet/DriverFooterParquetFileFormat)\.scala:' || true)
if [[ -n "$stray" ]]; then
  echo "parquet read outside graft.sources.ParquetSource:" >&2
  echo "$stray" >&2
  exit 1
fi

echo "== session definition guard =="
# every session, specs included, comes from graft.Sessions.base: the codegen
# class cache is sized once per JVM by the first session that compiles
stray=$(grep -rnF 'SparkSession.builder' src \
  | grep -v '^src/main/scala/graft/Sessions\.scala:' || true)
if [[ -n "$stray" ]]; then
  echo "SparkSession.builder outside graft.Sessions:" >&2
  echo "$stray" >&2
  exit 1
fi

echo "== row seam guard =="
# every hand-written row transform in the operators is a MapPartitions node
# inside the query's plan (graft.operators.Rows.mapPartitions): no Arrow
# marshalling anywhere in the library, no RDD round trip in the operators
stray=$( (grep -rnF 'org.apache.arrow' src/main; grep -rnF '.rdd' src/main/scala/graft/operators) || true)
if [[ -n "$stray" ]]; then
  echo "Arrow in src/main or .rdd in graft.operators:" >&2
  echo "$stray" >&2
  exit 1
fi

echo "== compile + unit specs =="
sbt -batch test

echo "== correctness dump (sf0.01) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_verify"

echo "== DuckDB oracle compare =="
python3 scripts/oracle_check.py /root/testdata/sf0.01 /tmp/gate_verify

if [[ "${1:-}" != "--no-bench" ]]; then
  echo "== bench (sf0.1) =="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
    | grep -oE '\{"metric".*\}' || true
fi
echo "== gate complete =="
