#!/usr/bin/env bash
# One-shot local gate mirroring everything the driver checks:
#   scalatest suite, t2 DuckDB-oracle correctness at sf0.001 + sf0.01
#   with no temp dir left behind, t1 entry smoke, the connector demo
#   (all six ETL tables non-empty), the profiler smoke, and the sf0.1
#   steady-state bench.
# Usage: scripts/full_check.sh [testdata-root]   (default /root/testdata)
set -euo pipefail
cd "$(dirname "$0")/.."
ROOT="${1:-/root/testdata}"

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
# its six tables, printed as "== <table> (N rows)", with N > 0.
demo="$(sbt -batch "runMain graft.tools.PipelineDemo")"
for t in playlists playlists_tracks saved_tracks recent_tracks followed_artists audio_features; do
  if ! grep -Eq "== $t \([1-9][0-9]* rows\)" <<<"$demo"; then
    echo "PipelineDemo: no '== $t (N rows)' line with N > 0"
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
