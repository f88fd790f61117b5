#!/usr/bin/env bash
# Long-horizon blessing vigil (VERDICT r14 item 1a): all 11 round-14
# bench attempts fell inside one 4.5-hour steal storm because they ran
# back-to-back in a single evening. This wrapper spreads bench_clean.sh
# attempts across the round's whole wall-clock budget: run an attempt
# cycle, and if nothing blessed, sleep and try again until either a
# clean blessing lands or the deadline passes.
#
# Run it off a SNAPSHOTTED classpath so the round's ongoing sbt compiles
# cannot crash an in-flight bench:
#   rsync -a --delete target/scala-2.13/classes/ /tmp/graft-classes-snap/
#   GRAFT_SNAP_CP=/tmp/graft-classes-snap \
#   GRAFT_BLESS_COMMIT=$(git rev-parse HEAD) \
#   nohup tools/bench_vigil.sh 5 <accept_total_seconds> &
#
# Usage: tools/bench_vigil.sh <horizon_hours> <accept_total_seconds>
#   accept_total_seconds is required: see tools/bench_clean.sh.
set -uo pipefail
cd "$(dirname "$0")/.."
HOURS="${1:?usage: tools/bench_vigil.sh <horizon_hours> <accept_total_seconds>}"
ACCEPT="${2:?usage: tools/bench_vigil.sh <horizon_hours> <accept_total_seconds>}"
deadline=$(( $(date +%s) + HOURS * 3600 ))
attempt_cycle=0
while [ "$(date +%s)" -lt "$deadline" ]; do
  attempt_cycle=$((attempt_cycle + 1))
  echo "[vigil] cycle $attempt_cycle starting at $(date -u +%H:%M:%SZ)"
  if tools/bench_clean.sh "$ACCEPT"; then
    echo "[vigil] blessed on cycle $attempt_cycle"
    exit 0
  fi
  # No clean window in that cycle (each cycle is up to 5 waits+runs).
  # Back off 10 minutes so cycles sample DIFFERENT host-time windows
  # instead of hammering the same storm.
  echo "[vigil] cycle $attempt_cycle found no clean window; sleeping 600s"
  sleep 600
done
echo "[vigil] deadline reached with no blessing"
exit 1
