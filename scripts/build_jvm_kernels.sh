#!/bin/sh
# Compile every JVM kernel under jvm/xss/ against the installed
# pyspark's jars and produce jvm/xss_kernels.jar.  Idempotent; rerun
# after editing or adding a kernel source (tests/test_plans.py checks
# that the committed jar holds a class for every source).
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JARS="$(python -c 'import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
rm -rf "$REPO/jvm/build"
mkdir -p "$REPO/jvm/build"
javac -encoding UTF-8 --release 17 -cp "$JARS/*" -d "$REPO/jvm/build" "$REPO"/jvm/xss/*.java
jar cf "$REPO/jvm/xss_kernels.jar" -C "$REPO/jvm/build" xss
echo "built $REPO/jvm/xss_kernels.jar"
