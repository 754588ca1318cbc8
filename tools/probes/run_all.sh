#!/bin/bash
# Run every scale probe sequentially and collect its figures in one log.
# Run it on a quiet host: concurrent load blurs the wall-time bands,
# while the count, recall and exactness figures are immune.
#
#   bash tools/probes/run_all.sh [logfile]
#
# Each probe's module docstring holds its band of record; update it
# whenever a code change legitimately moves a figure.
set -u -o pipefail  # pipefail: surface the probe's own exit, not tee's
LOG="${1:-/tmp/probes_$(date +%Y%m%d_%H%M%S).log}"
cd "$(dirname "$0")/../.."
# A crashing probe must not yield a silently empty log section: stderr
# goes to a side file, and a non-zero exit is recorded and fails the
# whole run at the end.
FAILED=0
for p in timeline_probe probe_pointread partition_read_probe \
         partitioned_overwrite_probe incremental_read_probe \
         demux_scale_probe ann_scale_probe dedup100k_probe \
         substring_scale_probe; do
  echo "=== $p ===" | tee -a "$LOG"
  start=$SECONDS
  python "tools/probes/$p.py" 2>"${LOG%.log}.$p.stderr" \
    | { grep -v "^\[Stage" || true; } | tee -a "$LOG"
  rc=$?
  echo "--- $p rc=$rc wall=$((SECONDS - start))s" | tee -a "$LOG"
  if [ "$rc" -ne 0 ]; then
    echo "FAILED rc=$rc (stderr: ${LOG%.log}.$p.stderr)" | tee -a "$LOG"
    FAILED=1
  fi
done
echo "figures in $LOG"
exit $FAILED
