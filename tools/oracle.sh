#!/usr/bin/env bash
# The full correctness oracle in one command: run graft.Verify over a
# testdata scale directory, compare every result with its DuckDB oracle
# (tools/compare.py), and print one line, e.g.
#
#   oracle sf0.01: 368/368 hash-match, 0 failed to run
#
# Exits non-zero unless every query ran and hash-matches.
#
# Usage: tools/oracle.sh [sfDir]   (default: $SPARK_GRAFT_SF_DIR, else
#        /root/testdata/sf0.01). The Verify output and the per-query
#        compare report stay in a temporary directory, printed on stderr.
set -euo pipefail

root="$(cd "$(dirname "$0")/.." && pwd)"
sf="$(cd "${1:-${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}}" && pwd)"
out="$(mktemp -d "${TMPDIR:-/tmp}/graft_oracle.XXXXXX")"
echo "[oracle] verify output and report in $out" >&2

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
(cd "$root" && sbt --batch -Dsbt.log.noformat=true \
  "runMain graft.Verify $sf $out/verify") >"$out/verify.log" 2>&1 || {
  tail -20 "$out/verify.log" >&2
  echo "oracle $(basename "$sf"): graft.Verify did not finish" >&2
  exit 2
}

python3 "$root/tools/compare.py" "$sf" "$out/verify" >"$out/compare.json" \
  2>"$out/compare.log" || true
python3 - "$out/compare.json" "$(basename "$sf")" <<'PY'
import json, sys
results = json.load(open(sys.argv[1]))
ok = sum(1 for e in results.values() if e.get("hash_match"))
missing = sorted(n for n, e in results.items()
                 if str(e.get("error", "")).startswith("spark result missing"))
misses = sorted(n for n, e in results.items()
                if not e.get("hash_match") and n not in missing)
print(f"oracle {sys.argv[2]}: {ok}/{len(results)} hash-match, "
      f"{len(missing)} failed to run")
for n in missing:
    print(f"  failed to run: {n}", file=sys.stderr)
for n in misses:
    print(f"  miss: {n}", file=sys.stderr)
sys.exit(0 if results and ok == len(results) else 1)
PY
