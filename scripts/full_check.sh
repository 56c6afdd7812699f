#!/usr/bin/env bash
# One-shot local gate mirroring everything the driver checks:
#   scalatest suite, t2 DuckDB-oracle correctness at sf0.001 + sf0.01
#   with no temp dir left behind, t1 entry smoke, the connector demo
#   (all six ETL tables non-empty through SpotifyPipeline.run and through
#   runConcurrent), the profiler smoke, and the sf0.1
#   steady-state bench. Ends by printing the Scala line counts of src/main
#   and of its tools/ package, the size figure the roadmap tracks.
# Usage: scripts/full_check.sh [testdata-root]   (default /root/testdata)
set -euo pipefail
cd "$(dirname "$0")/.."
ROOT="${1:-/root/testdata}"

# One session setup: graft.Session builds every session in src/main.
# Scaladoc lines (leading `*`) may show the builder call.
builders="$(grep -rn 'SparkSession.builder()' src/main \
  | grep -v '^src/main/scala/graft/Session\.scala:' \
  | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*\*' || true)"
if [ -n "$builders" ]; then
  echo "SparkSession.builder() outside graft/Session.scala:"
  echo "$builders"
  exit 1
fi

# One kernel per native expression: doGenCode calls the companion's static
# kernel, so no expression under graft/functions names generated locals.
templates="$(grep -rn freshName src/main/scala/graft/functions || true)"
if [ -n "$templates" ]; then
  echo "freshName under src/main/scala/graft/functions (a second, Java copy of a kernel):"
  echo "$templates"
  exit 1
fi

# One exact dyadic log2: its squaring recurrence lives only in
# graft/functions/Log2Q.scala; operators call log2q (Log2Q.col / Log2Q.sql).
squaring="$(grep -rnE 'm2 >= |\(m\*m\)//' src/main/scala/graft/operators || true)"
if [ -n "$squaring" ]; then
  echo "dyadic-log2 squaring step under src/main/scala/graft/operators (use Log2Q):"
  echo "$squaring"
  exit 1
fi

sbt -batch test

# Leak gate: every graft_* entry a Verify run creates in the JVM's temp dir
# (java.io.tmpdir, /tmp by default) must be gone when it exits; the
# graft_verify_* result dirs below are this script's own output.
scratch() { ls -1 /tmp | grep '^graft_' | grep -v '^graft_verify_' | sort || true; }
scratch_before="$(scratch)"

for sf in sf0.001 sf0.01; do
  out="/tmp/graft_verify_$sf"
  sbt -batch "runMain graft.Verify $ROOT/$sf $out"
  python3 scripts/check_correctness.py "$out" "$ROOT/$sf"
done

leaked="$(comm -13 <(echo "$scratch_before") <(scratch))"
if [ -n "$leaked" ]; then
  echo "Verify left temp dirs behind:"
  echo "$leaked"
  exit 1
fi

sbt -batch "runMain graft.tools.EntrySmoke" | grep ENTRY_ROWS

# Connector smoke: the ETL DAG over an in-memory stub must load every one of
# its six tables, printed as "== <table> (N rows)" by SpotifyPipeline.run
# and as "== runConcurrent <table> (N rows)" by the concurrent schedule,
# whose N is counted back from the in-memory Derby tables that
# JdbcReplaceSink.write loaded, with N > 0 on both paths and the same N on
# both (a fan-out or lookup lane that dropped a chain's pages, or a sink
# that dropped rows, would load fewer rows on one path).
demo="$(sbt -batch "runMain graft.tools.PipelineDemo")"
for t in playlists playlists_tracks saved_tracks recent_tracks followed_artists audio_features; do
  counts=()
  for path in "" "runConcurrent "; do
    n="$(sed -nE "s/.*== $path$t \(([1-9][0-9]*) rows\).*/\1/p" <<<"$demo" | head -n1)"
    if [ -z "$n" ]; then
      echo "PipelineDemo: no '== $path$t (N rows)' line with N > 0"
      exit 1
    fi
    counts+=("$n")
  done
  if [ "${counts[0]}" != "${counts[1]}" ]; then
    echo "PipelineDemo: $t has ${counts[0]} rows through run but ${counts[1]} through runConcurrent"
    exit 1
  fi
done

# Profiler smoke: ProfileQ, the one profiler, must print a "[pq] jobs="
# summary for each of a batch and a streaming query, and the streaming
# query's micro-batches as "[sq] batch=" lines.
pq="$(sbt -batch "runMain graft.tools.ProfileQ q_dedup_components,q_stream_dedup_ckpt $ROOT/sf0.001 1")"
for q in q_dedup_components q_stream_dedup_ckpt; do
  # a "[pq] jobs=" line inside the block that "[pq] ===== $q " opens
  if ! awk -v h="[pq] ===== $q " '/\[pq\] =====/ { in_q = index($0, h) > 0 }
      in_q && /\[pq\] jobs=/ { ok = 1 } END { exit !ok }' <<<"$pq"; then
    echo "ProfileQ: no '[pq] jobs=' summary for $q"
    exit 1
  fi
done
if ! grep -q '\[sq\] batch=' <<<"$pq"; then
  echo "ProfileQ: no '[sq] batch=' line"
  exit 1
fi

SPARK_GRAFT_SF_DIR="$ROOT/sf0.1" sbt -batch "runMain graft.Bench" \
  | grep '"metric"' | sed 's/^\[info\] //'

lines() { find "$1" -name '*.scala' -exec cat {} + | wc -l; }
echo "src_main_lines=$(lines src/main) tools_lines=$(lines src/main/scala/graft/tools)"
