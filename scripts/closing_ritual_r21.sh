#!/bin/bash
# Round-21 closing ritual — same governed order as r20 (the round's
# final full board must POSTDATE the final plan-touching commit; every
# step gates on a quiet ENTRY bracket; the board is bracketed by
# HostCal control reads), with the two r20 ADVICE governance fixes
# folded in:
#   1. the final BOARD_BRACKET adjudication now ALSO enforces HostCal's
#      documented quiet range [0.7, 1.6] on the PRE read and on the
#      accepted POST/RETRY read — a steady steal window inflating both
#      brackets equally (pre≈post≈2.0) used to print OK;
#   2. the validity block parses bracket lines defensively — malformed
#      lines are recorded and skipped, and an unparseable PRE/POST pair
#      yields an explicit INVALID_MALFORMED_BRACKETS instead of a
#      traceback that left the status file with NO verdict at all. The
#      sed below also strips any non-JSON prefix (match from the first
#      '{').
#
# Artifacts: /tmp/ritual_r21.status  (per-step RCs)
#            /tmp/ritual_r21_brackets.jsonl (loadavg + HostCal reads)
#            /tmp/<step>_r21.log    (per-step output)
cd /root/repo
STATUS=/tmp/ritual_r21.status
ART=/tmp/ritual_r21_brackets.jsonl
: > "$ART"
echo "ritual start $(date -u +%H:%M:%S)" > "$STATUS"

bracket() { # $1 step, $2 phase
  local la
  la=$(cut -d' ' -f1 /proc/loadavg)
  echo "{\"step\":\"$1\",\"phase\":\"$2\",\"loadavg\":$la,\"ts\":\"$(date -u +%H:%M:%S)\"}" >> "$ART"
}

quiet_wait() { # $1 step: wait up to 10 min for 1-min loadavg < 2.0
  local step=$1 tries=0 la
  while :; do
    la=$(cut -d' ' -f1 /proc/loadavg)
    if awk "BEGIN{exit !($la < 2.0)}"; then
      echo "{\"step\":\"$step\",\"phase\":\"entry\",\"loadavg\":$la,\"quiet\":true,\"ts\":\"$(date -u +%H:%M:%S)\"}" >> "$ART"
      return 0
    fi
    tries=$((tries+1))
    if [ "$tries" -gt 60 ]; then
      echo "{\"step\":\"$step\",\"phase\":\"entry\",\"loadavg\":$la,\"quiet\":false,\"ts\":\"$(date -u +%H:%M:%S)\"}" >> "$ART"
      return 1
    fi
    sleep 10
  done
}

# A step whose log — or whose artifact listed here — is missing, empty or
# older than the step records <name>_RC=EMPTY_ARTIFACT and fails, whatever
# the command's exit code: an empty artifact is never a result.
declare -A ARTIFACT=([BENCH]=BENCH_OUT.json)
step() { # $1 name; remaining args = command
  local name=$1; shift
  local artifact=${ARTIFACT[$name]:-}
  if ! quiet_wait "$name"; then
    echo "${name}_RC=INVALID_ENTRY_BRACKET $(date -u +%H:%M:%S)" >> "$STATUS"
    return 1
  fi
  local log="/tmp/${name}_r21.log" start="/tmp/${name}_r21.start"
  touch -d "1 second ago" "$start"
  "$@" > "$log" 2>&1
  local rc=$?
  bracket "$name" exit
  local f
  for f in "$log" $artifact; do
    if [ ! -s "$f" ] || [ ! "$f" -nt "$start" ]; then
      echo "${name}_RC=EMPTY_ARTIFACT ($f, exit $rc) $(date -u +%H:%M:%S)" >> "$STATUS"
      return 1
    fi
  done
  echo "${name}_RC=$rc $(date -u +%H:%M:%S)" >> "$STATUS"
  return $rc
}

hostcal() { # $1 PRE|POST|POST_RETRY — control-read bracket around the board
  step "HOSTCAL_$1" sbt -batch "runMain graft.tools.HostCal /root/testdata/sf0.1"
  # strip any non-JSON prefix (ADVICE #2): match from the first '{'
  grep -h '"host_index"' "/tmp/HOSTCAL_${1}_r21.log" | tail -1 \
    | sed -n "s/^[^{]*/{\"step\":\"HOSTCAL_$1\",\"read\":/p" \
    | sed 's/$/}/' >> "$ART"
}

# POST-bracket retry rule (r20): steal arrives in minutes-scale bursts;
# a drifted POST is retried once after 120 s — a quiet retry within 15%
# of PRE proves the burst was post-board (board stands), a still-
# inflated retry means the steal plausibly overlapped the board.
post_with_retry() {
  hostcal POST
  local pre post
  pre=$(grep '"step":"HOSTCAL_PRE"' "$ART" | tail -1 \
    | python3 -c 'import json,sys
try: print(json.loads(sys.stdin.read())["read"]["host_index"])
except Exception: print("nan")')
  post=$(grep '"step":"HOSTCAL_POST"' "$ART" | tail -1 \
    | python3 -c 'import json,sys
try: print(json.loads(sys.stdin.read())["read"]["host_index"])
except Exception: print("nan")')
  if python3 -c "
import sys, math
try: p, q = float('$pre'), float('$post')
except ValueError: sys.exit(0)
sys.exit(0 if (math.isnan(p) or math.isnan(q) or max(p,q)/min(p,q) > 1.15) else 1)"; then
    echo "POST_BRACKET_RETRY after 120s (pre=$pre post=$post)" >> "$STATUS"
    sleep 120
    hostcal POST_RETRY
  fi
}

hostcal PRE
step BENCH env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench"
step AUDIT_SF01 sbt -batch "runMain graft.tools.StageAudit /root/testdata/sf0.1 2.0"
step AUDIT_10X sbt -batch "runMain graft.tools.StageAudit 10x 6.0"
step SCALESMOKE sbt -batch "runMain graft.tools.ScaleSmoke"
step PIPESMOKE sbt -batch "runMain graft.tools.PipelineScaleSmoke"
post_with_retry

# Board validity (ADVICE #1 + #2 folded in): pre/post host_index within
# 15% of each other (one-retry burst rule), AND the PRE read and the
# accepted POST/RETRY read must each sit inside HostCal's documented
# quiet range [0.7, 1.6] — outside it the window is not quiet and the
# board is INVALID, never normalized. Malformed bracket lines are
# recorded and skipped; an unparseable PRE/POST pair is an explicit
# verdict, not a traceback.
python3 - "$ART" >> "$STATUS" <<'EOF'
import json, sys
reads, malformed = {}, 0
for line in open(sys.argv[1]):
    try:
        d = json.loads(line)
    except Exception:
        malformed += 1
        continue
    if d.get("step", "").startswith("HOSTCAL_") and "read" in d:
        try:
            reads[d["step"]] = float(d["read"]["host_index"])
        except Exception:
            malformed += 1
if malformed:
    print(f"BRACKET_MALFORMED_LINES={malformed}")
pre = reads.get("HOSTCAL_PRE")
post = reads.get("HOSTCAL_POST")
retry = reads.get("HOSTCAL_POST_RETRY")
QUIET = lambda x: x is not None and 0.7 <= x <= 1.6
if pre is None or post is None:
    print("BOARD_BRACKET=INVALID_MALFORMED_BRACKETS"
          if malformed else "BOARD_BRACKET=INVALID_MISSING_HOSTCAL")
elif max(pre, post) / min(pre, post) <= 1.15:
    if QUIET(pre) and QUIET(post):
        print(f"BOARD_BRACKET=OK pre={pre} post={post}")
    else:
        print(f"BOARD_BRACKET=INVALID_NOT_QUIET pre={pre} post={post}"
              " (agreeing brackets OUTSIDE HostCal's [0.7,1.6] quiet"
              " range = steady steal or host-class change, not a valid"
              " window)")
elif retry is not None and max(pre, retry) / min(pre, retry) <= 1.15:
    if QUIET(pre) and QUIET(retry):
        print(f"BOARD_BRACKET=OK_POST_BURST pre={pre} post={post}"
              f" retry={retry} (transient post-board steal burst; board"
              " interior covered by Bench per-query tripwires)")
    else:
        print(f"BOARD_BRACKET=INVALID_NOT_QUIET pre={pre} post={post}"
              f" retry={retry}")
else:
    print(f"BOARD_BRACKET=INVALID_DRIFT pre={pre} post={post} retry={retry}")
EOF
echo "ritual done $(date -u +%H:%M:%S)" >> "$STATUS"
