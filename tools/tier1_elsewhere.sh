#!/bin/bash
# Run Tier-1 tests in a fresh export of HEAD, away from this checkout:
# the check that exposes path-dependent failures — tests that pass only
# under the repository's own path, or only with what earlier runs left
# in its target/scratch.
#
#   tools/tier1_elsewhere.sh '<testOnly pattern>' [--with-scratch]
#
# HEAD (committed files only) is exported with `git archive` into a new
# directory under $TMPDIR (default /tmp). With --with-scratch, this
# checkout's target/scratch is first copied into the export with its
# mtimes kept, so layouts and sidecars built here meet a new path. sbt
# then compiles and runs `testOnly <pattern>` with the Tier-1
# environment (ROADMAP.md). The export is removed afterwards; the exit
# status is sbt's.
set -euo pipefail
if [ $# -lt 1 ] || [ $# -gt 2 ] || { [ $# -eq 2 ] && [ "$2" != "--with-scratch" ]; }; then
  echo "usage: $0 '<testOnly pattern>' [--with-scratch]" >&2
  exit 2
fi
pattern=$1
repo=$(cd "$(dirname "$0")/.." && pwd)
dest=$(mktemp -d "${TMPDIR:-/tmp}/graft-elsewhere.XXXXXX")
trap 'rm -rf "$dest"' EXIT
git -C "$repo" archive HEAD | tar -x -C "$dest"
if [ "${2:-}" = "--with-scratch" ] && [ -d "$repo/target/scratch" ]; then
  mkdir -p "$dest/target"
  cp -a "$repo/target/scratch" "$dest/target/scratch"
fi
echo "[tier1-elsewhere] $dest: testOnly $pattern ${2:-}"
cd "$dest"
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM SPARK_LOCAL_DIRS=/tmp/spark-local
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile "testOnly $pattern"
