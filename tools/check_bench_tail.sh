#!/bin/bash
# Reproduces the driver's bench capture exactly: run `sbt "runMain graft.Bench"`,
# keep ONLY the literal last 2000 bytes of stdout, and require that at least one
# line in that tail parses as the bench JSON object (strict json.loads per line).
#
# The driver has recorded parsed:null for rounds 1-3 because sbt's LoggedOutput
# wrapped the forked stdout as `[info] {...}`. build.sbt now sets
# `run / outputStrategy := Some(StdoutOutput)`; this script is the proof.
#
# Usage: tools/check_bench_tail.sh [sfDir]   (default /root/testdata/sf0.001)
set -u
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
OUT=$(mktemp)
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-1}" \
  sbt -batch "runMain graft.Bench" 2>/dev/null > "$OUT"
tail -c 2000 "$OUT" > "$OUT.tail"
python3 - "$OUT.tail" <<'EOF'
import json, sys
tail = open(sys.argv[1], "rb").read().decode("utf-8", "replace")
parsed = families = None
for line in tail.splitlines():
    try:
        obj = json.loads(line)
        if isinstance(obj, dict) and obj.get("metric") == "total":
            parsed = obj
        if isinstance(obj, dict) and obj.get("metric") == "families":
            families = obj
    except Exception:
        pass
if parsed is None:
    print("FAIL: no parseable bench JSON line in last 2000 bytes. Tail was:")
    print(tail)
    sys.exit(1)
if families is None:
    print("FAIL: family-subtotal line missing from the 2000-byte tail.")
    print(tail)
    sys.exit(1)
line_len = len(json.dumps(parsed, separators=(",", ":")))
print(f"OK: parsed bench line: total={parsed['value']}s n={parsed['n_queries']} "
      f"n_failed={parsed['n_failed']} "
      f"shown={len(parsed['queries'])} omitted={parsed['omitted_fastest']} "
      f"(~{line_len}B)")
print(f"OK: families line: {len(families['totals'])} shown, "
      f"other_n={families['other_n']} other_sum={families['other_sum']}s")
EOF
rc=$?
rm -f "$OUT" "$OUT.tail"
exit $rc
