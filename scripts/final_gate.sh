#!/usr/bin/env bash
# End-of-round evidence gate: regenerate every evidence artifact and
# REFUSE to commit any of them unless every generator exits 0, so a
# crashed or red sweep can never be snapshot-committed. Each artifact
# embeds the git SHA it ran against (oracle_compare.provenance), so
# staleness is mechanically checkable.
#
# Every generator's exit code carries its verdict:
#   - the keyed sweeps (check_negzero, gen_scale_correctness,
#     gen_local_correctness) run the one loop oracle_compare.sweep_keys:
#     a key whose check raises, mismatches its oracle or has a -0.0 hit
#     is red and exits 1; a capped key is listed and stays 0; a JVM
#     death exits 3 and writes no artifact;
#   - gen_stream_equiv exits 1 on all_equivalent: false or an eviction
#     violation, gen_sim_recall on all_floors_met: false.
#
# Usage (from the repo root, AFTER the last code change of the round):
#   bash scripts/final_gate.sh            # regen + verify + commit
#   SKIP_PYTEST=1 bash scripts/final_gate.sh   # artifacts only
#
# The 10x at-scale sweep took 6,107 s on 32 cores; stage /tmp/sf1x
# first with scripts/gen_scale10x.py (idempotent).
set -u
cd "$(dirname "$0")/.."

fail() { echo "FINAL GATE: REFUSING TO COMMIT — $1" >&2; exit 1; }

# Purge DuckDB spill leftovers from KILLED earlier runs before any
# generator starts (round-14: a SIGKILLed 10x oracle run left 78 GB
# of duckdb_temp_storage-*.tmp under cwd/.tmp — DuckDB's in-memory
# default spill location — and the NEGZERO 10x stage then failed on
# a full disk). tune_duck now spills to run-unique bdfr_duck_spill_*
# dirs with atexit cleanup; this sweep catches whatever a kill -9
# still orphaned. Nothing here can be live at gate start.
rm -rf .tmp /tmp/duck_spill /tmp/bdfr_duck_spill_* 2>/dev/null || true

if [ "${SKIP_PYTEST:-0}" != "1" ]; then
  python -m pytest tests/ -q -x || fail "pytest red"
fi

# provenance() samples `git status --porcelain` at artifact WRITE
# time, so an uncommitted predecessor artifact stamps git_dirty=true
# into every later one — the exact "mid-fix snapshot" smell the
# round-8 verdict flagged on SCALE_CORRECTNESS. Commit each artifact
# as soon as its generator passes, so the NEXT generator runs on a
# clean tree and every stamp records the clean SHA it ran against.
commit_artifact() {
  # Pathspec-scoped commit (round-10 advice): `git commit` with no
  # pathspec sweeps anything the user had staged into the evidence
  # commit, corrupting the clean-provenance story. Refuse to run on a
  # dirty index instead of silently absorbing it.
  if ! git diff --cached --quiet; then
    fail "index not empty before committing $1 — unstage first"
  fi
  git add "$1"
  if ! git diff --cached --quiet; then
    git commit -m "Evidence refresh: $1 (gate stage)" -- "$1" \
      || fail "artifact commit failed for $1"
  fi
}

# PLANS.md / QUERIES.md regenerate FIRST and are committed
# individually: in round 12 they sat behind the 10x sweep, which
# failed, leaving both docs stale at the r11 registry (round-12
# verdict item 2). The freshness check makes a registry/doc row-count
# mismatch fail the gate mechanically.
python scripts/gen_plans_md.py || fail "PLANS.md regen failed"
commit_artifact PLANS.md
python scripts/gen_queries_md.py || fail "QUERIES.md regen failed"
commit_artifact QUERIES.md
python scripts/check_doc_freshness.py || fail "PLANS.md/QUERIES.md row counts do not match the live registry"

python scripts/gen_stream_equiv.py || fail "STREAM_EQUIV failed"
commit_artifact STREAM_EQUIV.json
python scripts/gen_sim_recall.py || fail "SIM_RECALL failed"
commit_artifact SIM_RECALL.json
python scripts/check_negzero.py || fail "NEGZERO sweep found hits"
commit_artifact NEGZERO_SWEEP.json

# Refuse to start the 10x sweep on any remaining dirt: a pending
# source change would make SCALE_CORRECTNESS's clean stamp a lie.
[ -z "$(git status --porcelain)" ] \
  || fail "tree dirty before the 10x sweep — commit or stash first so SCALE provenance is honest: $(git status --porcelain | head -5)"

python scripts/gen_scale_correctness.py || fail "SCALE_CORRECTNESS red/crashed (rc=$?) — artifact NOT trustworthy"

# LOCAL_CORRECTNESS runs LAST (round-13 verdict item 8): it is the
# closest local mirror of the driver's gate, so it must stamp the
# final source state of the round — no later generator or source
# commit may postdate it.
python scripts/gen_local_correctness.py || fail "LOCAL_CORRECTNESS red or crashed (rc=$?)"

git add LOCAL_CORRECTNESS.json STREAM_EQUIV.json SIM_RECALL.json \
        NEGZERO_SWEEP.json SCALE_CORRECTNESS.json PLANS.md QUERIES.md
git commit -m "Final gate refresh: regenerated evidence artifacts (all generators rc=0)" \
  || echo "FINAL GATE: nothing to commit (artifacts unchanged)"
echo "FINAL GATE: all green"
