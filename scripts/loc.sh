#!/usr/bin/env bash
# Size of the shipped engine: the line count of the Scala sources under
# src/main, the `SparkSession.builder()` call sites in src/main and
# src/test, the Avro container read and write sites in graft.delta outside
# the DeltaQueries oracle (the Iceberg manifest codec's measure), the
# `.as(RowTracking.MatRowId)` row-lineage projections in src/main (the
# row-level rewrite's measure), the `Op.VacuumStart` commit sites in
# src/main (the VACUUM sweep's measure), then every `spark.graft.*` Spark
# conf key src/main reads, sorted.
# Usage: scripts/loc.sh [repo-root]   (default: the checkout holding this script)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root"
echo "src/main scala lines: $(find src/main -name '*.scala' -print0 | xargs -0 cat | wc -l)"
for tree in src/main src/test; do
  echo "SparkSession.builder() sites in $tree: $(grep -rho 'SparkSession\.builder()' "$tree" --include='*.scala' | wc -l)"
done
delta=src/main/scala/graft/delta
for call in 'DataFileReader.openReader' 'new DataFileWriter'; do
  n=$(grep -rhoF "$call" "$delta" --include='*.scala' --exclude=DeltaQueries.scala | wc -l)
  echo "$call sites in graft.delta (outside DeltaQueries.scala): $n"
done
echo ".as(RowTracking.MatRowId) sites in src/main: $(grep -rhoF '.as(RowTracking.MatRowId)' src/main --include='*.scala' | wc -l)"
echo "Op.VacuumStart commit sites in src/main: $(grep -rhoF 'Op.VacuumStart' src/main --include='*.scala' | wc -l)"
keys=$(grep -rhoE '"spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]"' src/main --include='*.scala' \
  | tr -d '"' | sort -u)
echo "spark.graft.* keys read: $(printf '%s\n' "$keys" | grep -c .)"
printf '%s\n' "$keys" | sed 's/^/  /'
