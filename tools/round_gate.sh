#!/usr/bin/env bash
# Per-round correctness ritual (VERDICT r14 item 7): run the Verify main
# TWICE in SEPARATE JVMs, oracle-compare both dumps, and run the
# canonical two-JVM hash audit between them — so every round commits a
# machine-readable stability verdict (HASH_AUDIT_LATEST.json) instead of
# the audit being a one-off. A row that is oracle-green but hash-unstable
# across JVMs is precisely the class the driver sees as a cross-round
# "flake" (r13: quality_model_train).
#
# Usage: tools/round_gate.sh [sfDir] [outBase]
#   sfDir:   defaults to /root/testdata/sf0.01 (the driver's gate SF)
#   outBase: defaults to /tmp/round_gate (dumps land at _a/_b suffixes)
#
# tools/run.sh honors GRAFT_SNAP_CP (a snapshotted classpath) so the two
# Verify JVMs survive concurrent compiles. A Verify run with any failed
# query exits 1, and the gate stops there naming the failures.
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
BASE="${2:-/tmp/round_gate}"
rm -rf "${BASE}_a" "${BASE}_b"
for run in a b; do
  echo "[round_gate] Verify run ${run^^} → ${BASE}_$run"
  tools/run.sh graft.Verify "$SF" "${BASE}_$run" > "${BASE}_$run.log" 2>&1 || {
    echo "[round_gate] run ${run^^} FAILED"
    grep '^\[verify\] failed' "${BASE}_$run.log"
    exit 1
  }
done
echo "[round_gate] oracle compare (run A)"
python3 tools/check_oracle.py "$SF" "${BASE}_a" > "${BASE}_oracle_a.txt" 2>&1
ORACLE_A=$?
tail -1 "${BASE}_oracle_a.txt"
echo "[round_gate] oracle compare (run B)"
python3 tools/check_oracle.py "$SF" "${BASE}_b" > "${BASE}_oracle_b.txt" 2>&1
ORACLE_B=$?
tail -1 "${BASE}_oracle_b.txt"
echo "[round_gate] two-JVM hash audit"
python3 tools/hash_audit.py "${BASE}_a" "${BASE}_b" > "${BASE}_audit.txt" 2>&1
AUDIT=$?
tail -3 "${BASE}_audit.txt"
# Commitable verdict artifact.
python3 - "$SF" "$ORACLE_A" "$ORACLE_B" "$AUDIT" "$BASE" <<'PYEOF'
import json, re, subprocess, sys
sf, oa, ob, audit, base = sys.argv[1:6]
def tail_counts(path):
    try:
        txt = open(path).read()
        m = re.search(r"(\d+) pass, (\d+) fail", txt)
        return {"pass": int(m.group(1)), "fail": int(m.group(2))} if m else None
    except Exception:
        return None
def audit_summary(path):
    try:
        txt = open(path).read()
        m = re.search(r"(\d+)/(\d+)", txt.strip().splitlines()[-1])
        return txt.strip().splitlines()[-1]
    except Exception:
        return None
try:
    head = subprocess.run(["git", "rev-parse", "HEAD"],
        capture_output=True, text=True).stdout.strip()
except Exception:
    head = None
out = {
    "sf": sf,
    "commit": head,
    "oracle_a": tail_counts(base + "_oracle_a.txt"),
    "oracle_b": tail_counts(base + "_oracle_b.txt"),
    "oracle_rc": [int(oa), int(ob)],
    "hash_audit_rc": int(audit),
    "hash_audit_tail": audit_summary(base + "_audit.txt"),
    "stable": int(audit) == 0 and int(oa) == 0 and int(ob) == 0,
}
json.dump(out, open("HASH_AUDIT_LATEST.json", "w"), indent=1)
print("[round_gate] verdict:", json.dumps(out))
PYEOF
[ "$ORACLE_A" = 0 ] && [ "$ORACLE_B" = 0 ] && [ "$AUDIT" = 0 ]
