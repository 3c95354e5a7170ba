#!/bin/bash
# End-of-round teardown (round-12 verdict #3, second-offense fix).
#
# Two consecutive rounds ended with orphaned compare processes and
# DuckDB scratch on a full disk, costing the NEXT session spurious
# test failures (r12 -> r13: four `No space left on device` failures
# in the judge's first sbt run). This script is run BEFORE the
# end-of-round snapshot commit; its output is pasted into the commit /
# SCALE.md so the round's final state is provably clean:
#
#   bash tools/teardown.sh | tee /tmp/teardown_r{N}.txt
#
# It kills the session's long-running helpers (bigcheck.py compare
# loops, run_main.sh-launched bare-java Spark mains, stray sbt shells
# OTHER than the interactive tmux one when --all is passed), clears
# DuckDB spill scratch and stale verify dumps, then prints ps/df proof.
set -u

ALL=${1:-}

echo "== teardown $(date -u +%FT%TZ) =="

# 1. orphaned compare / scaled-run processes
for pat in "bigcheck.py" "graft.Verify" "graft.Bench" "graft.ScaleUp" "graft.SfDump"; do
  pids=$(pgrep -f "$pat" || true)
  if [ -n "$pids" ]; then
    echo "killing [$pat]: $pids"
    kill $pids 2>/dev/null
  fi
done
# stray sbt servers too when ending the round entirely
if [ "$ALL" = "--all" ]; then
  pids=$(pgrep -f "sbt-launch.jar" || true)
  [ -n "$pids" ] && { echo "killing [sbt]: $pids"; kill $pids 2>/dev/null; }
  tmux kill-server 2>/dev/null && echo "tmux server killed"
fi
sleep 2

# 2. scratch: DuckDB spill, verify dumps, stale bench scratch
# /tmp/graft_src and /tmp/graft_stream are retired scratch roots: graft
# now writes under <warehouse>/graft_work (Tables.workDir)
for d in /tmp/duck_tmp /tmp/duck_tmp_* /tmp/vout_* /tmp/vout /tmp/arrow_hdr_probe \
         /tmp/graft_src /tmp/graft_stream; do
  if [ -e "$d" ]; then du -sh "$d" 2>/dev/null; rm -rf "$d"; echo "removed $d"; fi
done
# spark block-manager leftovers from killed JVMs (live JVMs keep theirs)
find /tmp -maxdepth 1 -name 'blockmgr-*' -mmin +10 -exec rm -rf {} + 2>/dev/null
find /tmp -maxdepth 1 -name 'spark-*' -mmin +10 -exec rm -rf {} + 2>/dev/null

# 3. proof
ROOT=$(cd "$(dirname "$0")/.." && pwd)
echo "-- graft scratch (layouts, source round-trips, stream sinks; safe to delete) --"
if [ -d "$ROOT/spark-warehouse/graft_work" ]; then
  du -sh "$ROOT/spark-warehouse/graft_work"
else
  echo "none at $ROOT/spark-warehouse/graft_work"
fi
echo "-- survivors (top cpu) --"
ps aux --sort=-%cpu | head -8
echo "-- disk --"
df -h / /tmp | sed -n '1,3p'
echo "== teardown done =="
