#!/usr/bin/env bash
# Run graft.ScaleSmoke tiers, each in its own JVM.
#
#   scripts/scale_smoke.sh [tier ...]     # every tier when none is named
#
# sbt is started once, to compile and export the runtime classpath and the
# forked-run JVM options from build.sbt; each tier then runs as
# `java ... graft.ScaleSmoke <tier>`. Prints one `tier rc wall_s` line per
# tier and keeps each tier's stdout in $SCALE_SMOKE_OUT/<tier>.out
# (default /tmp/scale_smoke). With SCALE_SMOKE_TIMEOUT=<seconds> set, a tier
# still running after that long is killed (rc 124). Exits 1 if any tier
# exited non-zero.
set -uo pipefail
cd "$(dirname "$0")/.."
out="${SCALE_SMOKE_OUT:-/tmp/scale_smoke}"
mkdir -p "$out"

export COURSIER_MODE="${COURSIER_MODE:-offline}"
sbt_log="$out/sbt_export.log"
if ! sbt -batch -Dsbt.log.noformat=true compile \
    "export Runtime/fullClasspath" "print run/javaOptions" >"$sbt_log" 2>&1; then
  echo "sbt export failed; see $sbt_log" >&2
  exit 1
fi
cp="$(grep -v '^\[' "$sbt_log" | grep '\.jar' | tail -1)"
mapfile -t jopts < <(sed -n 's/^\* //p' "$sbt_log")
smoke() { ${SCALE_SMOKE_TIMEOUT:+timeout -k 10 "$SCALE_SMOKE_TIMEOUT"} java "${jopts[@]}" -cp "$cp" graft.ScaleSmoke "$@"; }

# with no tier named, the tier table is what ScaleSmoke prints (exit 2)
if [ "$#" -eq 0 ]; then
  mapfile -t tiers < <(smoke 2>/dev/null | sed -n 's/^  //p')
  set -- "${tiers[@]}"
fi

any=0
echo "tier rc wall_s"
for tier in "$@"; do
  t0=$(date +%s%N)
  smoke "$tier" >"$out/$tier.out" 2>"$out/$tier.err"
  rc=$?
  ms=$(( ($(date +%s%N) - t0) / 1000000 ))
  printf '%s %d %d.%d\n' "$tier" "$rc" $((ms / 1000)) $((ms % 1000 / 100))
  [ "$rc" -eq 0 ] || any=1
done
exit "$any"
