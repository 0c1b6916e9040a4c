#!/usr/bin/env bash
# Pre-snapshot gate: refuse the end-of-round snapshot unless EVERY artifact
# the driver will produce is healthy. Run from the repo root:
#
#   tools/presnapshot.sh            # full gate: sbt test + Verify + oracle + fuzz + Bench + 2x floors
#   tools/presnapshot.sh --fast     # skip the sf0.1 bench (dev loop)
#
# Exits nonzero (and says why) on: red sbt test, any query that throws in
# Verify (errors.json non-empty), any oracle mismatch from check_oracle.py,
# a Bench run with nonzero rc / non-empty "errors", a perfbench triangle
# output that disagrees with DuckDB, or a bench total / triangle median
# sum above 2x its pinned idle-box floor (GRAFT_BENCH_FLOOR_SEC /
# GRAFT_GRAPH_FLOOR_SEC). Three consecutive
# rounds shipped a defective artifact that this one command would have caught.
set -uo pipefail
cd "$(dirname "$0")/.."

FAST=${1:-}
SF_VERIFY=${SPARK_GRAFT_VERIFY_SF:-/root/testdata/sf0.01}
SF_BENCH=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
OUT=/tmp/graft_presnapshot_verify
fail() { echo "PRESNAPSHOT GATE: FAIL — $1" >&2; exit 1; }

# Gate-at-HEAD (r11 verdict #2): the round-11 s10 regression shipped
# because an operator landed AFTER the full gate ran. The gate therefore
# (a) refuses to certify a tree with uncommitted engine changes, and
# (b) records the commit it certified in GATE_CERT.json; the snapshot-time
# companion tools/gate_check.sh refuses if HEAD has engine changes past
# that SHA. Artifact files (BENCH_*, CORRECTNESS_*, COVERAGE.md, ...) may
# move freely — only src/ tools/ build.sbt project/ invalidate the cert.
ENGINE_PATHS="src tools build.sbt project"
DIRTY=$(git status --porcelain -- $ENGINE_PATHS)
[ -z "$DIRTY" ] || fail "uncommitted engine changes — commit before gating:
$DIRTY"
HEAD_SHA=$(git rev-parse HEAD)

echo "== [1/6] sbt test =="
sbt -batch test > /tmp/presnapshot_test.log 2>&1 \
  || fail "sbt test red (see /tmp/presnapshot_test.log)"
grep -E "Tests: succeeded" /tmp/presnapshot_test.log | tail -1

echo "== [2/6] Verify @ ${SF_VERIFY} =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify ${SF_VERIFY} ${OUT}" > /tmp/presnapshot_verify.log 2>&1 \
  || fail "Verify exited nonzero (see /tmp/presnapshot_verify.log)"
[ -f "$OUT/errors.json" ] || fail "Verify wrote no errors.json"
python3 - "$OUT/errors.json" <<'EOF' || exit 1
import json, sys
errs = json.load(open(sys.argv[1]))
if errs:
    print("PRESNAPSHOT GATE: FAIL — queries threw in Verify:", file=sys.stderr)
    for k, v in errs.items():
        print(f"  {k}: {v}", file=sys.stderr)
    sys.exit(1)
EOF

echo "== [3/6] DuckDB oracle compare =="
python3 tools/check_oracle.py "$OUT" "$SF_VERIFY" > /tmp/presnapshot_oracle.log 2>&1 \
  || fail "oracle mismatch (see /tmp/presnapshot_oracle.log)"
tail -3 /tmp/presnapshot_oracle.log

echo "== [4/6] randomized differential fuzz (seed 1) =="
python3 tools/fuzz_oracle.py 1 > /tmp/presnapshot_fuzz.log 2>&1 \
  || fail "fuzz-corpus divergence (see /tmp/presnapshot_fuzz.log)"
tail -2 /tmp/presnapshot_fuzz.log

if [ "$FAST" = "--fast" ]; then
  echo "== [5/6] bench + [6/6] perfbench triangles SKIPPED (--fast) =="
else
  echo "== [5/6] Bench @ ${SF_BENCH} =="
  # contention guard: never bench concurrently with another Spark job.
  # (Bench.main also polls /proc/loadavg itself; this outer check makes the
  # refusal visible in the gate log and catches long-running driver benches.)
  # 1.0, matching Bench.main's artifact-strength default (r9 verdict #7:
  # a load-2.5 artifact carried ~16 s of contention noise)
  MAXLOAD=${SPARK_GRAFT_BENCH_MAXLOAD:-1.0}
  for i in $(seq 1 120); do
    LOAD=$(cut -d' ' -f1 /proc/loadavg)
    OK=$(python3 -c "print(1 if $LOAD <= $MAXLOAD else 0)")
    [ "$OK" = "1" ] && break
    echo "  load $LOAD > $MAXLOAD — waiting for idle box ($i/120)..."
    sleep 15
  done
  [ "$OK" = "1" ] || fail "box never went idle; refusing to record contaminated bench numbers"
  SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch "runMain graft.Bench" \
    > /tmp/presnapshot_bench.log 2>&1 \
    || fail "Bench exited nonzero (see /tmp/presnapshot_bench.log)"
  python3 - <<'EOF' || exit 1
import json, os, sys
rec = json.load(open("BENCH_SELF.json"))
if rec.get("errors"):
    print("PRESNAPSHOT GATE: FAIL — bench errors:", rec["errors"], file=sys.stderr)
    sys.exit(1)
bad = [k for k, v in rec.get("queries", {}).items() if v < 0]
if bad:
    print("PRESNAPSHOT GATE: FAIL — -1.0 sentinel queries:", bad, file=sys.stderr)
    sys.exit(1)
# the 2x regression gate (r7 verdict #7): a bench total more than 2x the
# pinned idle-box floor is either a real regression or a contaminated
# artifact (the r6 d05-at-53s class) — refuse to snapshot it either way.
# Raise the floor deliberately (env) when the suite legitimately grows.
# 194 s = the 208-query idle total under FULL-OUTPUT evaluation,
# MEASURED (round-13 idle artifact run: 194.2 s at load_start 0.24,
# headline_ok=true — +12.6 s over the round-12 202-query 181.6 s floor
# carrying FIVE new queries, each a full artifact-lifecycle walk by
# design: s16 versioned build+3 appends+delete+compact+vacuum+probe
# 3.5 s, s17 build+retrain+probe 2.3 s, s15/d31 build+append+2
# deletes+probe 2.2 s each, g29 0.7 s — while q30's distribution-form
# exact arm CUT it 3.0 -> 1.6 s and the carried 202 stayed flat at
# 182.0 s, +0.2%). Earlier floors (181/157/107 s) are not comparable
# across protocol changes.
floor = float(os.environ.get("GRAFT_BENCH_FLOOR_SEC", "194"))
if rec["value"] > 2 * floor:
    print(f"PRESNAPSHOT GATE: FAIL — bench total {rec['value']:.1f}s "
          f"> 2x pinned floor {floor}s", file=sys.stderr)
    sys.exit(1)
print(f"bench ok: {rec['value']:.1f}s over {len(rec['queries'])} queries "
      f"(floor {floor}s)")
# r12 verdict #7: a loaded-box total is floors-only — say so in the gate
# log so nobody reads it as a headline number.
if not rec.get("headline_ok", True):
    print(f"  NOTE: artifact tagged {rec.get('load_tag')} "
          f"(load_start {rec.get('load_start')}) — valid for the 2x floor "
          f"gate, NOT headline-comparable; rerun idle for a headline total")
# r10 verdict #5: make phantom per-query regressions machine-visible.
# Compare each median against the last COMMITTED artifact; flag >2x
# moves, annotated with this run's own min/max spread so a noisy
# sub-second query (spread ratio > 2) reads as noise, not regression.
# WARN-only: the binding gate is the total above.
import subprocess
try:
    prev = json.loads(subprocess.run(
        ["git", "show", "HEAD:BENCH_SELF.json"],
        capture_output=True, text=True, check=True).stdout)
except Exception:
    prev = {}
spread = rec.get("spread_min_max", {})
for k, v in sorted(rec.get("queries", {}).items()):
    p = prev.get("queries", {}).get(k)
    if p and p > 0 and v > 2 * p:
        mn, mx = spread.get(k, [v, v])
        tag = "NOISY (in-run spread > 2x)" if mn > 0 and mx / mn > 2 \
              else "STABLE — investigate"
        print(f"  spread-warn {k}: {p:.2f}s -> {v:.2f}s "
              f"[run min {mn:.2f} max {mx:.2f}] {tag}")
EOF

  echo "== [6/6] perfbench triangles vs pinned floor =="
  # trianglesAuto on perfbench's seeded 100k-edge power-law and uniform
  # files (perfbench/gen.py); run.py checks every output against DuckDB
  # (a triangle query for the two graphs) and exits nonzero on any wrong
  # or failed operation
  python3 perfbench/run.py --workload executor_work --seed 7 --seconds 5 \
    > /tmp/presnapshot_graph.log 2>&1 \
    || fail "perfbench executor_work exited nonzero (see /tmp/presnapshot_graph.log)"
  python3 - <<'EOF' || exit 1
import os, re, sys
med = {m.group(1): float(m.group(2)) for m in re.finditer(
    r"^op \d+ (powerlaw|uniform): ok; median ([0-9.]+) s",
    open("/tmp/presnapshot_graph.log").read(), re.M)}
if set(med) != {"powerlaw", "uniform"}:
    print("PRESNAPSHOT GATE: FAIL — no powerlaw/uniform median in "
          "/tmp/presnapshot_graph.log", file=sys.stderr)
    sys.exit(1)
total = med["powerlaw"] + med["uniform"]
# 4.52 s = the median sum over three seed-7 runs, each started at 1-min
# load <= 1.0 on a 4-core box (4.36 / 4.52 / 4.91 s). The earlier 0.78 s
# floor timed one id-ordered plan on the reference's 100k.txt and is not
# comparable.
floor = float(os.environ.get("GRAFT_GRAPH_FLOOR_SEC", "4.52"))
if total > 2 * floor:
    print(f"PRESNAPSHOT GATE: FAIL — triangles powerlaw {med['powerlaw']:.2f}s"
          f" + uniform {med['uniform']:.2f}s > 2x pinned floor {floor}s",
          file=sys.stderr)
    sys.exit(1)
print(f"graph bench ok: powerlaw {med['powerlaw']:.2f}s + uniform "
      f"{med['uniform']:.2f}s = {total:.2f}s (floor {floor}s)")
EOF
fi

if [ "$FAST" = "--fast" ]; then
  echo "PRESNAPSHOT GATE: PASS (--fast: bench tiers skipped; no cert written)"
else
  ORACLE_PASS=$(grep -oE '[0-9]+ pass' /tmp/presnapshot_oracle.log | tail -1 | cut -d' ' -f1)
  python3 - "$HEAD_SHA" "${ORACLE_PASS:-0}" <<'EOF'
import json, subprocess, sys
json.dump({"sha": sys.argv[1],
           "utc": subprocess.run(["date", "-u", "+%FT%TZ"],
                                 capture_output=True, text=True).stdout.strip(),
           "oracle_pass": int(sys.argv[2]),
           "mode": "full"},
          open("GATE_CERT.json", "w"), indent=1)
EOF
  echo "PRESNAPSHOT GATE: PASS — certified $HEAD_SHA (GATE_CERT.json written;"
  echo "  commit it, then run tools/gate_check.sh before every snapshot)"
fi
