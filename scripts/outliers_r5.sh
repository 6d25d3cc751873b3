#!/bin/bash
# Round-5 outlier pinning (VERDICT r4 item 3): the seven driver-bench
# rows that regressed 2-5x in the r4 driver sweep with unchanged code.
# Protocol: the queries-only subset runner (no build/latency sections),
# reps >= 3 (min-of-reps), TWO gated runs; each run accepted only if
# mid-run co-tenant CPU < 1.0 cores by the same busy-jiffy ledger as
# scaling_cpu_gated.sh. Verdict rule: a row is NOISE if both runs land within
# 20% of each other and at its r1/r2-class value; otherwise it needs a
# profiled explanation.
set -u
OUT=${OUT:-/root/repo/BENCH/outliers_r5.jsonl}
SUBSET=${SUBSET:-ft_pinned,ft_matrixstats,ft_prefix,ft_postings,ft_phrase3,ft_phrase_prefix,ft_prf}
RUNS=${RUNS:-2}
REPS=${REPS:-3}
GATE=${GATE:-4}
OTHERGATE=${OTHERGATE:-1.0}
cd /root/repo
mkdir -p "$(dirname "$OUT")"
HZ=$(getconf CLK_TCK)
gt() { awk -v a="$1" -v b="$2" 'BEGIN{exit !(a>b)}'; }
busy() { awk '/^cpu /{print $2+$3+$4+$7+$8+$9}' /proc/stat; }
tosec() { echo "$1" | awk -F'[ms]' '{print $1*60+$2}'; }

run_once() { # echoes "OK other_cores" or "FAIL reason"; JSON line -> $OUT
  local l0 b0 t0 b1 t1 wall own other qline waited
  waited=0
  while :; do
    l0=$(cut -d' ' -f1 /proc/loadavg)
    gt "$l0" "$GATE" || break
    sleep 30; waited=$((waited+30))
    if [ $waited -ge 600 ]; then echo "FAIL preload=$l0"; return; fi
  done
  b0=$(busy); t0=$(date +%s.%N)
  { time (SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_BENCH_QUERIES_ONLY=1 \
      SPARK_GRAFT_BENCH_SUBSET="$SUBSET" \
      SPARK_GRAFT_BENCH_REPS=$REPS \
      sbt -batch "runMain graft.Bench" \
      >/tmp/outlier_run.out 2>/dev/null) ; } 2>/tmp/outlier_run.time
  t1=$(date +%s.%N); b1=$(busy)
  wall=$(awk -v a="$t0" -v b="$t1" 'BEGIN{printf "%.2f", b-a}')
  own=$(awk -v u="$(tosec "$(awk '/^user/{print $2}' /tmp/outlier_run.time)")" \
            -v s="$(tosec "$(awk '/^sys/{print $2}' /tmp/outlier_run.time)")" \
            'BEGIN{printf "%.2f", u+s}')
  other=$(awk -v b0="$b0" -v b1="$b1" -v hz="$HZ" -v own="$own" -v w="$wall" \
    'BEGIN{oc=((b1-b0)/hz-own)/w; if (oc<0) oc=0; printf "%.3f", oc}')
  qline=$(grep -oE '\{"metric":.*\}' /tmp/outlier_run.out | tail -1)
  if [ -z "$qline" ]; then echo "FAIL noline"; return; fi
  echo "{\"run\":\"outliers_r5\",\"wall\":$wall,\"own_cpu\":$own,\"other_cores\":$other,\"load0\":$l0,\"bench\":$qline}" >> "$OUT"
  if gt "$other" "$OTHERGATE"; then echo "FAIL other=$other"; return; fi
  echo "OK $other"
}

accepted=0
attempts=0
while [ $accepted -lt "$RUNS" ] && [ $attempts -lt $((RUNS*4)) ]; do
  attempts=$((attempts+1))
  r=$(run_once)
  case "$r" in
    OK*) accepted=$((accepted+1));;
    *) echo "{\"attempt\":$attempts,\"rejected\":\"$r\"}" >> "$OUT";;
  esac
  sleep 20
done
echo DONE >> "$OUT"
