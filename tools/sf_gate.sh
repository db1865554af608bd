#!/usr/bin/env bash
# One-command reproducible scale gate (VERDICT r6 item 3): generate the
# synthetic scaled corpus if absent, dump every registered query with
# graft.Verify on the DEFAULT 8 GB heap, then replay every oracle in
# DuckDB sequentially on a fresh memory-capped connection per query.
#
#   tools/sf_gate.sh                # sf1 (10x) gate, the round norm
#   tools/sf_gate.sh .scale/sf3 30  # sf3 probe
#
# Env knobs: SPARK_GRAFT_CPUS (default: the host's cores, graft.Harness's
# rule), SPARK_DRIVER_MEM (default
# 8g — the point of the gate is that the DEFAULT survives),
# GRAFT_DUCKDB_MEM (oracle-side cap, default 8GB in check.py).
set -euo pipefail
cd "$(dirname "$0")/.."

# Marker tokens are "pid:starttime" since round 15 (field 22 of
# /proc/<pid>/stat, unique per boot): raw pid liveness had a recycling
# false positive, observed live in round 14 — a dead gate's stale
# marker pid got re-issued and a quiet bench recorded
# gate_overlap:true / a gate would have refused with exit 3 against a
# process that wasn't a gate at all. Token format is shared verbatim
# with graft.Markers (Scala) and tools/check.py.
stat_starttime() { # $1 = pid; prints starttime, rc=1 when /proc entry gone
  local stat
  stat=$(cat "/proc/$1/stat" 2>/dev/null) || return 1
  # comm (field 2) may contain spaces/parens — count from the LAST ')'
  echo "${stat##*) }" | awk '{print $20}'
}
writer_live() { # $1 = marker token; rc=0 only when its writer is alive
  local tok=$1 pid st now
  case "$tok" in
    *:*) pid=${tok%%:*}; st=${tok##*:} ;;
    *) return 1 ;;  # legacy bare-pid token: stale by definition
  esac
  [ -n "$pid" ] && [ -n "$st" ] || return 1
  if now=$(stat_starttime "$pid"); then
    [ "$now" = "$st" ]
  else
    # /proc entry gone: dead on Linux. st==0 marks a non-Linux writer
    # (no /proc there) — degrade to plain pid liveness for that case.
    [ "$st" = "0" ] && kill -0 "$pid" 2>/dev/null
  fi
}

# Bench-contamination guard (VERDICT r13 item 5): four of five
# round-boundary benches measured a loaded machine. graft.Bench
# writes /tmp/graft_bench.running while measuring; a gate starting
# mid-bench would be exactly that contamination, so refuse —
# GRAFT_GATE_FORCE=1 overrides. Stale markers (writer gone) are
# DELETED, not just ignored (VERDICT r14 item 1).
BENCH_MARK=/tmp/graft_bench.running
if [ -f "$BENCH_MARK" ]; then
  BTOK=$(cat "$BENCH_MARK" 2>/dev/null || echo "")
  if writer_live "$BTOK" && [ "${GRAFT_GATE_FORCE:-}" != "1" ]; then
    echo "REFUSED: graft.Bench ($BTOK) is measuring — a concurrent" >&2
    echo "gate would contaminate BENCH_r*.json. Wait for it or set" >&2
    echo "GRAFT_GATE_FORCE=1." >&2
    exit 3
  fi
  writer_live "$BTOK" || rm -f "$BENCH_MARK"   # stale: writer is gone
fi
# Symmetric marker so graft.Bench can RECORD a gate overlap (the driver
# starts benches on its own schedule; Bench can't refuse, but it can
# put gate_overlap:true into the artifact). Two LIVE gates clobbering
# one marker would also delete each other's liveness signal mid-run —
# refuse gate-vs-gate too (same stale handling, same override).
GATE_MARK=/tmp/graft_gate.running
OWN_TOK="$$:$(stat_starttime $$ || echo 0)"
if [ -f "$GATE_MARK" ]; then
  GTOK=$(cat "$GATE_MARK" 2>/dev/null || echo "")
  if writer_live "$GTOK" && [ "$GTOK" != "$OWN_TOK" ] \
     && [ "${GRAFT_GATE_FORCE:-}" != "1" ]; then
    echo "REFUSED: another gate/replay ($GTOK) is running — two" >&2
    echo "concurrent replays contaminate each other's walls. Wait or" >&2
    echo "set GRAFT_GATE_FORCE=1." >&2
    exit 3
  fi
  writer_live "$GTOK" || rm -f "$GATE_MARK"    # stale: writer is gone
fi
echo "$OWN_TOK" > "$GATE_MARK"
# Remove only OUR marker (a forced concurrent gate may own it by then).
trap '{ [ "$(cat "$GATE_MARK" 2>/dev/null)" = "$OWN_TOK" ] && rm -f "$GATE_MARK"; } || true' EXIT

# Guard-only mode for tools/marker_check.sh — exercises exactly the
# refusal/stale-cleanup logic above without running a gate.
if [ "${1:-}" = "--check-markers" ]; then
  echo "markers ok (own token $OWN_TOK)"
  exit 0
fi

SF_DIR=${1:-.scale/sf1}
COPIES=${2:-10}
OUT=${3:-/tmp/verify_$(basename "$SF_DIR")}

if [ ! -f "$SF_DIR/documents.parquet" ]; then
  echo "== generating $SF_DIR (${COPIES}x sf0.1)"
  python3 tools/scale_gen.py /root/testdata/sf0.1 "$SF_DIR" "$COPIES"
fi

# No default here: graft.Harness decides (SPARK_GRAFT_CPUS if set, else
# the JVM's availableProcessors, which equals nproc unless a cgroup CPU
# quota caps it lower).
echo "== dumping the full registry via graft.Verify ($SF_DIR -> $OUT, cpus=${SPARK_GRAFT_CPUS:-$(nproc)}, heap=${SPARK_DRIVER_MEM:-8g default})"
sbt -batch "runMain graft.Verify $SF_DIR $OUT"

# Staged-oracle drift guard (VERDICT r13 item 4): before leaning on a
# staged form as the sf10 fallback, prove each one is row-identical to
# its composed twin at sf0.01 (cheap, ~2 min). A staged-SQL edit that
# diverges fails HERE, not a full round later at the next 100x gate.
if [ -d /root/testdata/sf0.01 ]; then
  echo "== staged == composed identity check (sf0.01)"
  python3 tools/check.py --staged-both /root/testdata/sf0.01 "$OUT"
fi

echo "== sequential memory-capped DuckDB oracle replay"
python3 tools/check.py "$SF_DIR" "$OUT"
