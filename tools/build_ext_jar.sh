#!/bin/sh
# Build deeplake-spark-ext.jar (the SparkSessionExtensions index-routing
# rule) against the installed pyspark's jars. Java 17 only — no Scala
# compiler needed (the rule extends Catalyst's Scala classes from Java).
# The compiled jar is committed at deeplake_spark/plans/jvm/ so users
# don't need a JDK; run this after editing the sources.
#
# The jar carries META-INF/deeplake-src.sha256: the sha256 of the
# `sha256sum` listing of every source file (paths relative to the
# source root, C-locale order). tests/test_tools.py recomputes it and
# fails when the committed jar was built from other sources.
set -e
cd "$(dirname "$0")/.."
SPARK_JARS=$(python -c "import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars'))")
SRC=deeplake_spark/plans/jvm/src
OUT=$(mktemp -d)
javac -encoding UTF-8 -proc:none -classpath "$SPARK_JARS/*" -d "$OUT" \
    "$SRC"/io/deeplake/spark/ext/*.java
mkdir "$OUT/META-INF"
(cd "$SRC" && find . -name '*.java' | LC_ALL=C sort | xargs sha256sum) \
    | sha256sum | cut -d' ' -f1 > "$OUT/META-INF/deeplake-src.sha256"
jar cf deeplake_spark/plans/jvm/deeplake-spark-ext.jar -C "$OUT" io \
    -C "$OUT" META-INF/deeplake-src.sha256
rm -rf "$OUT"
echo "built deeplake_spark/plans/jvm/deeplake-spark-ext.jar"
