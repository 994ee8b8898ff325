#!/usr/bin/env bash
# promote_artifact.sh <expected_sf_substring> <dest.json> [src=bench_out.json]
#
# Guarded promotion of a bench artifact (r14 VERDICT task 1b): refuses
# to cp when the source is missing/empty, carries a refusal/error
# record, or was struck against a different corpus than intended —
# the r14 chain's unconditional `cp bench_out.json BENCH_*.json`
# silently promoted a stale x10 strike as the sf0.1 artifact.
#
# Sibling outlier check (r15 VERDICT "what's wrong" #1: the committed
# r15 BENCH_LOCAL.json carried a 36.9 s pipe_incr_evolve_serve row, 5x
# the driver's 7.5 s, and nothing refused it): with
# PROMOTE_SIBLING=<other-strike.json> set, promotion is additionally
# refused when any hot row (>=2 s in either strike) differs by more
# than 2x between the two — one strike's thread/GC-timing outlier can
# then never become the round's committed "after" unchallenged. A set
# but missing or empty sibling refuses too: the check must never be
# skipped silently.
#
# Load check: the source must carry the `"load":{...,"quiet":true}`
# stamp graft.Bench writes (quiet start, no foreign JVM, load in the
# envelope at the end). A loaded strike, or one with no stamp at all,
# refuses: its timings measure the box, not the code.
set -u
expected_sf="$1"
dest="$2"
src="${3:-bench_out.json}"

if [ ! -s "$src" ]; then
  echo "[promote] REFUSED: $src missing or empty — $dest left untouched" >&2
  exit 1
fi
if grep -q '"error"' "$src"; then
  echo "[promote] REFUSED: $src carries an error/refusal record — $dest left untouched:" >&2
  head -c 400 "$src" >&2; echo >&2
  exit 1
fi
actual_sf="$(python3 - "$src" <<'EOF'
import json, sys
print(json.load(open(sys.argv[1])).get("sf", ""))
EOF
)"
quiet="$(python3 - "$src" <<'EOF'
import json, sys
print(json.load(open(sys.argv[1])).get("load", {}).get("quiet") is True)
EOF
)"
if [ "$quiet" != "True" ]; then
  echo "[promote] REFUSED: $src is not stamped load.quiet=true (loaded or unguarded strike) — $dest left untouched" >&2
  exit 1
fi
case "$actual_sf" in
  *"$expected_sf"*) ;;
  *)
    echo "[promote] REFUSED: $src sf='$actual_sf' does not match expected '$expected_sf' — $dest left untouched" >&2
    exit 1
    ;;
esac
if [ -n "${PROMOTE_SIBLING:-}" ]; then
  if [ ! -s "$PROMOTE_SIBLING" ]; then
    echo "[promote] REFUSED: sibling strike $PROMOTE_SIBLING missing or empty — the outlier check cannot run; $dest left untouched" >&2
    exit 1
  fi
  if ! python3 - "$src" "$PROMOTE_SIBLING" <<'EOF'
import json, sys
a = json.load(open(sys.argv[1])).get("queries", {})
b = json.load(open(sys.argv[2])).get("queries", {})
bad = [(k, a[k], b[k]) for k in set(a) & set(b)
       if max(a[k], b[k]) >= 2.0 and a[k] > 0 and b[k] > 0
       and max(a[k] / b[k], b[k] / a[k]) > 2.0]
for k, x, y in bad:
    print(f"[promote] OUTLIER {k}: src {x:.2f}s vs sibling {y:.2f}s", file=sys.stderr)
sys.exit(1 if bad else 0)
EOF
  then
    echo "[promote] REFUSED: $src has hot rows >2x its sibling strike $PROMOTE_SIBLING — re-strike before promoting" >&2
    exit 1
  fi
fi
cp "$src" "$dest"
[ -f "$src.short" ] && cp "$src.short" "$dest.short"
echo "[promote] $src (sf=$actual_sf) -> $dest" >&2
