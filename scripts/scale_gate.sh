#!/usr/bin/env bash
# The repeatable SCALE gate — one command, run every round, numbers go in
# the round record. It runs every leg of the registry in
# src/main/scala/graft/tools/Spike.scala (`Spike --list` prints one
# `name driverMem args…` line per leg, in order), each in its own JVM under
# the leg's driver-heap pin. The legs cover the scale paths whose
# regressions sf0.01 correctness cannot catch: 10^9-cell Zarr stores with
# exact closed-form aggregates and chunk pruning, and planted-truth operator
# gates at 100x+ the fixture sizes; each leg's scaladoc says what it checks.
# Each leg FAILS LOUDLY (require inside the leg) — a silent pass is
# impossible. ~6-8 min total on local[32].
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"

# Machine-readable sweep record (VERDICT r17 Next #7): per-leg wall
# seconds, driver-mem pin and pass/fail land in SCALEGATE_LAST.json,
# FLUSHED after every leg — gate-runtime drift (like r17's heap-floor
# move) surfaces as a diffable artifact instead of an anecdote,
# and a killed sweep still leaves every completed leg's timing.
ART="${SCALEGATE_OUT:-SCALEGATE_LAST.json}"
LEGS=""
flush() {
  printf '{"legs":[%s],"partial":%s,"host_cpus":%s}\n' \
    "${LEGS%,}" "$1" "$(nproc)" > "$ART.tmp" && mv "$ART.tmp" "$ART"
}
run_leg() { # run_leg <name> <driver_mem|-> <spike args...>
  local name="$1" mem="$2"; shift 2
  local t0 t1 status="pass"
  t0=$(date +%s)
  if [ "$mem" = "-" ]; then
    sbt -batch "runMain graft.tools.Spike $*" </dev/null 2>&1 | grep -E '\[spike\]' || status="fail"
  else
    SPARK_DRIVER_MEM="$mem" sbt -batch "runMain graft.tools.Spike $*" </dev/null 2>&1 \
      | grep -E '\[spike\]' || status="fail"
  fi
  t1=$(date +%s)
  LEGS+="{\"leg\":\"$name\",\"args\":\"$*\",\"driver_mem\":\"$([ "$mem" = - ] && echo 8g || echo "$mem")\",\"wall_s\":$((t1 - t0)),\"status\":\"$status\"},"
  flush true
  echo "[scale_gate] $name: $status in $((t1 - t0))s"
  [ "$status" = "pass" ] || { echo "[scale_gate] LEG FAILED: $name"; flush false; exit 1; }
}

listing="$(sbt -batch "runMain graft.tools.Spike --list" </dev/null | sed 's/^\[info\] //' \
  | grep -E '^[a-z0-9-]+ (-|[0-9]+g)( [0-9]+)*$')" || { echo "[scale_gate] could not list the legs"; exit 1; }
mapfile -t lines <<< "$listing"
for line in "${lines[@]}"; do
  read -r name mem args <<< "$line"
  # shellcheck disable=SC2086 # args are whitespace-separated sizes
  run_leg "$name" "$mem" "$name" $args
done
flush false
echo "[scale_gate] all scale gates passed"
