#!/bin/bash
# One-command round validation: compile, unit tests, smoke, sf0.01 and
# sf0.001 oracle gates (the latter also with broadcast joins off), sf0.001
# bench contract, three end-to-end benchmark runs. Exits non-zero on any failure
# (exit codes are captured explicitly — a `cmd | grep` pipeline would
# swallow the real status).
set -u
cd "$(dirname "$0")/.."
fail=0

# Hash the tree BEFORE validating. Round-10 lesson: the marker used to be
# computed at gate END, so source files written while the gate ran were
# blessed without ever compiling (a batch with a syntax error shipped a
# "green" marker that way). Now the start hash is what gets recorded, and
# a mid-run edit voids the marker instead of laundering itself into it.
tree_at_start=$(tools/ci_tree_hash.sh)

echo "== every parquet read passes a schema (no inference job)"
# a schema-less read runs a one-task Spark job per load to infer the
# schema; src/main reads footers on the driver (graft.io.Footers) instead
if grep -rn '\.read\.parquet(' src/main/scala; then
  echo "FAIL: schema-less parquet read in src/main (use graft.io.Footers.read)"
  fail=1
fi

echo "== benchmark harness tests (negative controls)"
pb_out=$(python3 -m unittest perfbench/test_perfbench.py 2>&1); pb_rc=$?
echo "$pb_out" | tail -3
[ $pb_rc -ne 0 ] && { echo "FAIL: perfbench tests (rc=$pb_rc)"; fail=1; }

echo "== compile + test"
test_out=$(sbt -batch test 2>&1); test_rc=$?
echo "$test_out" | grep -E "Tests:|\*\*\*|\[error\]" | head -5
[ $test_rc -ne 0 ] && { echo "FAIL: sbt test (rc=$test_rc)"; fail=1; }

echo "== smoke (driver t1)"
smoke=$(tools/run.sh graft.Smoke 2>/dev/null | grep "entry rows")
echo "$smoke"
echo "$smoke" | grep -qE "entry rows=[1-9]" || { echo "FAIL: smoke"; fail=1; }

echo "== correctness vs DuckDB oracle (driver t2 mirror, sf0.01)"
out=$(mktemp -d)
tools/run.sh graft.Verify /root/testdata/sf0.01 "$out" 2>/dev/null >/dev/null
oracle_out=$(python3 tools/check_oracle.py /root/testdata/sf0.01 "$out" 2>&1); oracle_rc=$?
echo "$oracle_out" | tail -1
[ $oracle_rc -ne 0 ] && { echo "FAIL: oracle gate (rc=$oracle_rc)"; fail=1; }

echo "== correctness vs DuckDB oracle at sf0.001 (data-shape divergences)"
# second scale factor (round-13 verdict item 5): sf0.001's sparser groups
# produce the degenerate/boundary cells that sf0.01 masks — the q142/
# q236/q361/q449 class of divergences this gate exists to catch.
out001=$(mktemp -d)
tools/run.sh graft.Verify /root/testdata/sf0.001 "$out001" 2>/dev/null >/dev/null
oracle001_out=$(python3 tools/check_oracle.py /root/testdata/sf0.001 "$out001" 2>&1); oracle001_rc=$?
echo "$oracle001_out" | tail -1
[ $oracle001_rc -ne 0 ] && { echo "FAIL: oracle gate sf0.001 (rc=$oracle001_rc)"; echo "$oracle001_out" | grep ^FAIL | head -5; fail=1; }

echo "== correctness vs DuckDB oracle at sf0.001, broadcast joins off"
# the large side of Spark's broadcast switch: every join sort-merges and
# Dedup.components takes its distributed path, which the small fixtures
# otherwise never reach (a Spark conf read from the JVM's system
# properties, not a graft setting)
outnb=$(mktemp -d)
GRAFT_JAVA_OPTS=-Dspark.sql.autoBroadcastJoinThreshold=-1 \
  tools/run.sh graft.Verify /root/testdata/sf0.001 "$outnb" 2>/dev/null >/dev/null
oraclenb_out=$(python3 tools/check_oracle.py /root/testdata/sf0.001 "$outnb" 2>&1); oraclenb_rc=$?
echo "$oraclenb_out" | tail -1
[ $oraclenb_rc -ne 0 ] && { echo "FAIL: oracle gate sf0.001 broadcast off (rc=$oraclenb_rc)"; echo "$oraclenb_out" | grep ^FAIL | head -5; fail=1; }

echo "== oracle coverage (every query must ship an oracle unless allowlisted)"
# rows-only allowlist: queries whose semantics cannot be expressed in
# DuckDB SQL. Adding a query without an oracle and without listing it
# here fails the round.
ROWS_ONLY=""
python3 - "$out" "$ROWS_ONLY" <<'EOF' || { echo "FAIL: oracle coverage"; fail=1; }
import json, os, sys
out, allow = sys.argv[1], set(filter(None, sys.argv[2].split(",")))
oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
keys = {k[:-8] if k.endswith(".parquet") else k for k in oracles}
results = {d[:-8] for d in os.listdir(out)
           if d.endswith(".parquet") and os.path.isdir(os.path.join(out, d))}
missing = sorted(results - keys - allow)
print(f"{len(results)} queries, {len(keys)} oracled, {len(allow)} allowlisted rows-only")
if missing:
    print("MISSING ORACLE:", ", ".join(missing))
    sys.exit(1)
EOF

echo "== bench JSON contract (sf0.001)"
# details redirected to a temp file so this probe can't clobber the
# committed sf0.1 record in the repo cwd
bench=$(SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  SPARK_GRAFT_BENCH_DETAILS=$(mktemp) tools/run.sh graft.Bench 2>/dev/null | tail -1)
echo "$bench" | python3 -c "
import json, sys
line = sys.stdin.read().strip()
d = json.loads(line)
bad = [k for k, v in d['queries'].items() if v < 0]
print('total', round(d['value'], 1), 'sec,', len(d['queries']), 'queries,', len(bad), 'failed,', len(line), 'chars')
# the driver parses the JSON out of the LAST ~2000 chars of stdout; leave
# headroom for sbt's trailing '[success] ...' line
sys.exit(1 if (bad or len(line) > 1800) else 0)" || { echo "FAIL: bench contract"; fail=1; }

# run one perfbench workload at seed 1; it must exit 0 and end
# "correct": true with "failed": 0
e2e_correct() { # $1 = workload
  local out rc
  out=$(python3 perfbench/run.py --workload "$1" --seed 1 --seconds 30 --trace 0 2>/dev/null); rc=$?
  echo "$out" | tail -1 | python3 -c "
import json, sys
d = json.loads(sys.stdin.read().strip())
print('correct', d['correct'], 'attempted', d['attempted'], 'failed', d['failed'])
sys.exit(0 if d['correct'] is True and d['failed'] == 0 else 1)" && [ $rc -eq 0 ] \
    || { echo "FAIL: $1 (rc=$rc)"; fail=1; }
}

echo "== medallion end to end (curate audits vs injected counts)"
# the only run that checks Pipelines.curate's per-stage counts against the
# counts the raw-file generator injected (plus the serve and versioned
# steps that read the curated output back); no unit test does that
e2e_correct medallion

echo "== query_floor end to end (queries on row-permuted inputs)"
# the only run that checks q147's entity clusters (Dedup.components) on a
# row-permuted input against its DuckDB oracle: union-find labels that
# depended on edge order would fail here, not on the fixed-order fixtures
e2e_correct query_floor

echo "== rows_heavy end to end (q307 on a row-permuted 8-replica input)"
# the only run that checks q307's content-defined chunks end to end on a
# row-permuted, replicated input (texts repeat verbatim across replicas,
# so every chunk recurs under other doc_ids)
e2e_correct rows_heavy

echo "== ci green marker"
# On a fully-green run, record a hash of the exact src/ + build tree that
# was validated. The pre-commit hook refuses src/-touching commits whose
# tree doesn't match a green marker (round-9 lesson: a compile-only hook
# let a suite-red clobber ship in the snapshot).
tree_at_end=$(tools/ci_tree_hash.sh)
if [ $fail -eq 0 ] && [ "$tree_at_start" = "$tree_at_end" ]; then
  echo "$tree_at_start" > .git/graft-ci-green
  echo "marker written: $(cat .git/graft-ci-green)"
elif [ $fail -eq 0 ]; then
  rm -f .git/graft-ci-green
  echo "marker cleared (src/ tree changed mid-run — re-run the gate)"
  fail=1
else
  rm -f .git/graft-ci-green
  echo "marker cleared (gate red)"
fi

exit $fail
