#!/bin/bash
# Same-window A/B adjudication of bench queries against an older code
# boundary — the scripted form of the protocol that settled seven
# flagged sub-second ratios across rounds 13-14 (SCALING.md). When a
# merged per-query ratio vs a prior round looks like a regression, the
# question is "code or environment?": this script answers it in minutes
# by interleaving fresh-JVM runs of the SAME queries from HEAD's classes
# and from a clone compiled at <ref>, in one host window, so host drift
# cancels and only the code difference remains.
#
# Usage: tools/abcompare.sh <queries> <ref> [pairs=4] [sfdir]
#
#   queries  comma-separated SparkEntry.queries keys (each must exist at
#            BOTH commits); all of them run in one JVM per side and pair
#   ref      the old code boundary (commit/tag) to compare against
#   pairs    interleaved A/B pairs; run order flips each pair (ABBA...)
#            so slow-drift within the window biases neither side
#   sfdir    the scale-factor table dir (default: the sf0.1 test data)
#
# Prints one JSON line per query:
#   {"probe":"abcompare","query":...,"ref":...,"new_runs":[...],
#    "old_runs":[...],"min_new":x,"min_old":y,"ratio_new_over_old":r}
# Adjudication rule (SCALING.md): ratio within ~1.05 at min-of-pairs =>
# environmental, not code; re-run with more pairs before concluding a
# real regression on a sub-2 s query.
#
# Each run is a fresh JVM via the same flags as tools/bench_run.sh
# (SPARK_GRAFT_BENCH_ONLY selects the queries), so the measurement JVM
# is identical to the committed merge protocol's. SPARK_GRAFT_CPUS
# defaults to this host's core count. Both sides compile with the
# offline sbt settings of the tier-1 tests (no network is needed): HEAD
# in place, <ref> in a `git clone` under $TMPDIR that is reused across
# invocations. Quiet-window rules apply: no sbt/Spark work alongside,
# idle the host after the compile before the first timed pair.
set -euo pipefail

USAGE="usage: abcompare.sh <query[,query...]> <ref> [pairs] [sfdir]"
QUERIES="${1:?$USAGE}"
REF="${2:?$USAGE}"
PAIRS="${3:-4}"
SFDIR="${4:-/root/testdata/sf0.1}"

REPO=$(cd "$(dirname "$0")/.." && pwd)
SHORT=$(git -C "$REPO" rev-parse --short "$REF")
OLD="${TMPDIR:-/tmp}/graft_ab_$SHORT"
SCRATCH=$(mktemp -d "${TMPDIR:-/tmp}/graft_abcompare.XXXXXX")
trap 'rm -rf "$SCRATCH"' EXIT

sbt_compile() { # $1 = checkout to compile, offline like the tier-1 tests
  (cd "$1" && COURSIER_MODE=offline \
    SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}" \
    sbt --batch -Dsbt.log.noformat=true compile >&2)
}

# clone + compile at the old boundary (reused across invocations — the
# compile is the expensive half, ~2 min; delete the clone to reclaim it)
if [ ! -d "$OLD" ]; then
  git clone -q "$REPO" "$OLD" >&2
  git -C "$OLD" checkout -q --detach "$REF" >&2
fi
if [ ! -d "$OLD/target/scala-2.13/classes/graft" ]; then
  sbt_compile "$OLD"
fi
sbt_compile "$REPO"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

run_one() { # $1 = classes dir, $2 = out json
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  SPARK_GRAFT_SF_DIR="$SFDIR" \
  SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
  SPARK_GRAFT_BENCH_OUT="$2" \
  java $ADD_OPENS -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC -Xmx"${SPARK_DRIVER_MEM:-8g}" \
    -cp "$1:/opt/spark/jars/*" graft.Bench \
    > "${2%.json}.stdout.log" 2> "${2%.json}.stderr.log"
}

NEW_CP="$REPO/target/scala-2.13/classes"
OLD_CP="$OLD/target/scala-2.13/classes"
for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then
    run_one "$NEW_CP" "$SCRATCH/new_$i.json"
    run_one "$OLD_CP" "$SCRATCH/old_$i.json"
  else
    run_one "$OLD_CP" "$SCRATCH/old_$i.json"
    run_one "$NEW_CP" "$SCRATCH/new_$i.json"
  fi
  echo "[abcompare] pair $i/$PAIRS done" >&2
done

python3 - "$QUERIES" "$SHORT" "$PAIRS" "$SCRATCH" <<'EOF'
import json, sys
queries, ref, pairs, scratch = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
def runs(side, q):
    return [json.load(open(f"{scratch}/{side}_{i}.json"))["queries"][q]
            for i in range(1, pairs + 1)]
for q in [x.strip() for x in queries.split(",") if x.strip()]:
    new, old = runs("new", q), runs("old", q)
    r = min(new) / min(old) if min(old) > 0 else float('nan')
    print(json.dumps({"probe": "abcompare", "query": q, "ref": ref,
                      "new_runs": new, "old_runs": old,
                      "min_new": min(new), "min_old": min(old),
                      "ratio_new_over_old": round(r, 3)},
                     separators=(',', ':')))
EOF
