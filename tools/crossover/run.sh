#!/bin/bash
# Measures the driver-read / Spark-read crossover behind
# CommitTable.DriverBudget.bytes (see DriverBudgetCrossover.scala).
#
#   tools/crossover/run.sh [cores] [files] [sizes] [reps]
#
# from the repository root; defaults: 4 cores, 4 files per table, tables
# of 8k..128k rows (4..64 MiB), 7 repetitions. Builds the engine with
# perfbench/build.py, compiles this tool beside it into
# .bench_build/crossover, and writes its tables under a fresh temporary
# directory that it removes on exit.
set -euo pipefail
cores=${1:-4}; files=${2:-4}; sizes=${3:-8000,16000,32000,64000,128000}; reps=${4:-7}
root=$(cd "$(dirname "$0")/../.." && pwd)
python3 "$root/perfbench/build.py"
cp=$(cd "$root" && python3 -c "import sys; sys.path.insert(0, 'perfbench'); import build; print(build.classpath())")
scalac_cp=$(echo "$cp" | tr ':' '\n' | grep -E '/scala-(compiler|library|reflect)-[^/]*\.jar$' | paste -sd:)
out="$root/.bench_build/crossover"
mkdir -p "$out"
java -Xss8m -Xmx1g -cp "$scalac_cp" scala.tools.nsc.Main -nowarn -d "$out" -classpath "$cp" \
  "$root/tools/crossover/DriverBudgetCrossover.scala"
work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
         java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
java -Xss8m -Xmx3g -Djava.io.tmpdir="$work" -Dspark.ui.enabled=false -Dspark.local.dir="$work" \
  "${opens[@]}" -cp "$out:$cp" graft.DriverBudgetCrossover "$cores" "$work/tables" "$sizes" "$files" "$reps" \
  2>"$work/jvm.log"
