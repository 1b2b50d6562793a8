#!/bin/sh
# Build dist/geomesa-spark-ext.jar for spark-submit --jars: the engine jar,
# every class under jvm/src (the Catalyst extension rule and the lazy MLlib
# function registration in geomesaspark/ext, the file: filesystem in
# geomesaspark/fs). geomesa_spark.session.engine_jar
# is the one builder (javac against the Spark distribution's own jars, cached
# per hash of the sources); this copies its jar out of the user cache.
set -e
cd "$(dirname "$0")/.."
JAR=$(python -c "from geomesa_spark.session import engine_jar; print(engine_jar())")
mkdir -p dist
cp "$JAR" dist/geomesa-spark-ext.jar
echo "built dist/geomesa-spark-ext.jar"
