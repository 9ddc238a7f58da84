#!/bin/bash
# A/B bench discipline as a script (round-8 verdict #5): answer "is this
# per-query regression real, or host drift?" in one command.
#
#   scripts/bench_ab.sh <gitref> <sfDir> <query...>
#
# Builds the working tree (A) and <gitref> in a scratch clone (B), then
# INTERLEAVES Time passes A,B,A,B,... so both sides sample the
# same host conditions — the manual r8 procedure (scratch clone, old
# classfiles, same-session measurement) made repeatable. Each side keeps
# its own DerivedStore root so tier layouts can differ across refs
# without cross-contamination (Time builds each SF's tiers in an untimed
# warm-up run; a ref whose Time predates that warm-up pays the build in
# pass 1's first timed run, which min-of-passes absorbs).
#
# Verdict column: B/A ratio of per-query minima. Host drift shows as
# both sides moving together across passes; a real regression shows as
# a stable ratio away from 1.0.
#
# Env: AB_PASSES (default 2) interleaved passes per side.
set -euo pipefail
cd "$(dirname "$0")/.."

REF="${1:?usage: bench_ab.sh <gitref> <sfDir> <query...>}"
SF="${2:?usage: bench_ab.sh <gitref> <sfDir> <query...>}"
shift 2
[ $# -ge 1 ] || { echo "usage: bench_ab.sh <gitref> <sfDir> <query...>" >&2; exit 2; }
PASSES="${AB_PASSES:-2}"

SCRATCH=$(mktemp -d /tmp/bench_ab.XXXXXX)
trap 'rm -rf "$SCRATCH"' EXIT
echo "== building A (working tree) and B ($REF -> $SCRATCH/repo) =="
sbt -batch compile >/dev/null
git clone -q -n "$(pwd)" "$SCRATCH/repo"
git -C "$SCRATCH/repo" checkout -q "$REF"
(cd "$SCRATCH/repo" && sbt -batch compile >/dev/null)

mkdir -p "$SCRATCH/store-a" "$SCRATCH/store-b"
for p in $(seq "$PASSES"); do
  echo "== pass $p/$PASSES: A (working tree) =="
  GRAFT_GRAPHSTORE_DIR="$SCRATCH/store-a" \
    scripts/run_class.sh graft.tools.Time "$SF" "$@" \
    2>/dev/null | tee -a "$SCRATCH/a.txt"
  echo "== pass $p/$PASSES: B ($REF) =="
  # -cold: a ref whose Time defaults to warm runs needs it to release
  # between runs as A does; a Time that always releases reads it as a
  # name matching no query.
  GRAFT_CLASSES="$SCRATCH/repo/target/scala-2.13/classes" \
    GRAFT_GRAPHSTORE_DIR="$SCRATCH/store-b" \
    scripts/run_class.sh graft.tools.Time "$SF" -cold "$@" \
    2>/dev/null | tee -a "$SCRATCH/b.txt"
done

echo
echo "== A/B summary (min over $PASSES interleaved passes x best-of-3) =="
echo "== verdict: |B/A - 1| <= each side's own pass-to-pass dispersion -> 'drift' (needs AB_PASSES >= 2) =="
printf "%-28s %9s %9s %7s %7s %s\n" "query" "A(tree)" "B(ref)" "B/A" "band" "verdict"
awk '
  function best(line) { sub(/.*best= */, "", line); sub(/ .*/, "", line); return line + 0 }
  FNR == NR && /best=/ {
    q = $1; b = best($0)
    if (!(q in a)  || b < a[q])  a[q] = b
    if (!(q in ah) || b > ah[q]) ah[q] = b
    next
  }
  /best=/ {
    q = $1; b = best($0)
    if (!(q in bb) || b < bb[q]) bb[q] = b
    if (!(q in bh) || b > bh[q]) bh[q] = b
  }
  END {
    for (q in a) if (q in bb) {
      if (a[q] <= 0 || bb[q] <= 0) {   # sub-ms best: no ratio to take
        printf "%-28s %9.3f %9.3f %7s %7s %s\n", q, a[q], bb[q], "-", "-", "too-fast-to-compare"
        continue
      }
      r = bb[q] / a[q]
      dA = (ah[q] - a[q]) / a[q]; dB = (bh[q] - bb[q]) / bb[q]
      band = (dA > dB ? dA : dB)
      v = (r >= 1 - band && r <= 1 + band) ? "drift" \
          : (r > 1 ? "B-slower (real)" : "A-slower (real)")
      printf "%-28s %9.3f %9.3f %7.2f %6.0f%% %s\n", q, a[q], bb[q], r, band * 100, v
    }
  }' "$SCRATCH/a.txt" "$SCRATCH/b.txt" | sort
