#!/usr/bin/env bash
# Build the JVM TableCatalog plugin (jvm/src) into jvm/lance-jvm-catalog.jar.
# Compiles against the pyspark-bundled Spark jars; requires only javac 17+.
set -euo pipefail
cd "$(dirname "$0")/.."

SPARK_JARS="$(python3 -c 'import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
OUT=jvm/classes
rm -rf "$OUT" && mkdir -p "$OUT"

javac -proc:none -encoding UTF-8 --release 17 -classpath "$SPARK_JARS/*" -d "$OUT" \
  jvm/src/io/lancespark/*.java

# Fixed entry timestamps and a sorted entry list make rebuilds
# byte-identical, so a rebuild from unchanged sources leaves git clean.
mapfile -t CLASSES < <(cd "$OUT" && find . -type f | LC_ALL=C sort)
rm -f jvm/lance-jvm-catalog.jar
(cd "$OUT" && jar --create --date=2026-01-01T00:00:00Z \
  --file ../lance-jvm-catalog.jar "${CLASSES[@]}")
rm -rf "$OUT"
echo "built jvm/lance-jvm-catalog.jar"
